"""The function-name table: DuckDB name → Spark SQL function name.

DuckDB resolves every function through one catalog (reference
`src/function/function_list.cpp`); this table is its name-for-name part
here, read by both surfaces:

- SQL text: `sql.dialect._rewrite_calls` looks each call `name(` up in
  its `_CALL_HANDLERS` table; a call no handler rewrote goes to
  `_call_default`, which tries `dialect_macros._agg_macro_windowed` and
  `_agg_macro` and then renames it to the Spark name found here;
- Python: `functions.registry.FUNCTIONS[name]` binds
  `pyspark.sql.functions.<spark name>`, or `call_function(<spark name>, …)`
  when PySpark has no function of that name.

Only names whose arguments and result match DuckDB's belong here. A name
that needs its arguments reshaped is a `_agg_macro` template (SQL) or a
builder in `functions.scalar*` (Python). Every entry has a sample call in
`tests/test_function_names.py`, which compares both surfaces with DuckDB.
"""

from __future__ import annotations

NAMES: dict[str, str] = {
    # string
    "concat": "concat", "concat_ws": "concat_ws", "lower": "lower",
    "upper": "upper", "ucase": "upper", "lcase": "lower", "trim": "trim",
    "ltrim": "ltrim", "rtrim": "rtrim", "reverse": "reverse",
    "replace": "replace", "repeat": "repeat", "lpad": "lpad", "rpad": "rpad",
    "length": "length", "len": "len", "strlen": "octet_length",
    "octet_length": "octet_length", "bit_length": "bit_length",
    "substring": "substring", "substr": "substring", "contains": "contains",
    "starts_with": "startswith", "prefix": "startswith",
    "ends_with": "endswith", "suffix": "endswith",
    "regexp_matches": "regexp_like",
    "regexp_split_to_array": "split", "str_split_regex": "split",
    "string_split_regex": "split", "split_part": "split_part",
    "translate": "translate", "ascii": "ascii", "unicode": "ascii",
    "ord": "ascii", "chr": "char", "instr": "instr", "strpos": "instr",
    "md5": "md5", "sha1": "sha1", "overlay": "overlay", "hex": "hex",
    "unhex": "unhex", "to_base64": "base64", "base64": "base64",
    "from_base64": "unbase64", "initcap": "initcap", "printf": "printf",
    "array_to_string": "array_join",
    # math
    "abs": "abs", "ceil": "ceil", "ceiling": "ceil", "floor": "floor",
    "round": "round", "sqrt": "sqrt", "cbrt": "cbrt", "exp": "exp", "ln": "ln",
    "log2": "log2", "log10": "log10", "pow": "pow", "power": "pow", "pi": "pi",
    "sin": "sin", "cos": "cos", "tan": "tan", "asin": "asin", "acos": "acos",
    "atan": "atan", "atan2": "atan2", "sinh": "sinh", "cosh": "cosh",
    "tanh": "tanh", "asinh": "asinh", "acosh": "acosh", "atanh": "atanh",
    "degrees": "degrees", "radians": "radians", "factorial": "factorial",
    "isnan": "isnan", "random": "rand", "greatest": "greatest",
    "least": "least", "bit_count": "bit_count",
    # date/time
    "date_trunc": "date_trunc", "datetrunc": "date_trunc", "year": "year",
    "month": "month", "day": "day", "dayofmonth": "dayofmonth",
    "dayofyear": "dayofyear", "hour": "hour", "minute": "minute",
    "second": "second", "quarter": "quarter", "weekofyear": "weekofyear",
    "add_months": "add_months", "to_timestamp": "to_timestamp",
    "make_timestamp": "make_timestamp", "to_date": "to_date",
    "current_date": "current_date", "now": "current_timestamp",
    "get_current_timestamp": "current_timestamp",
    "current_localtime": "localtimestamp",
    "get_current_time": "localtimestamp",
    # list
    "array_length": "array_size", "cardinality": "size",
    "list_append": "array_append", "array_append": "array_append",
    "list_concat": "concat", "array_concat": "concat", "array_cat": "concat",
    "list_extract": "element_at", "list_element": "element_at",
    "array_extract": "element_at", "element_at": "element_at",
    "list_contains": "array_contains", "array_contains": "array_contains",
    "array_has": "array_contains", "list_position": "array_position",
    "list_indexof": "array_position", "array_indexof": "array_position",
    "array_position": "array_position", "list_reverse": "reverse",
    "list_intersect": "array_intersect", "list_max": "array_max",
    "list_min": "array_min", "list_sort": "array_sort",
    "array_sort": "array_sort", "list_value": "array", "list_pack": "array",
    "array_value": "array", "list_transform": "transform",
    "array_transform": "transform", "array_apply": "transform",
    "apply": "transform", "list_filter": "filter", "array_filter": "filter",
    "filter": "filter", "list_zip": "arrays_zip", "array_zip": "arrays_zip",
    "unnest": "explode",
    # map / struct
    "map_keys": "map_keys", "map_values": "map_values",
    "map_concat": "map_concat", "map_from_entries": "map_from_entries",
    "map_contains": "map_contains_key", "struct_pack": "struct",
    "row": "struct",
    # json
    "json_extract": "get_json_object", "json_extract_path": "get_json_object",
    "json_extract_string": "get_json_object", "to_json": "to_json",
    "json_array_length": "json_array_length", "json_keys": "json_object_keys",
    # generic
    "uuid": "uuid", "gen_random_uuid": "uuid", "isnull": "isnull",
    "isnotnull": "isnotnull", "if": "if", "iif": "if", "ifnull": "nvl",
    "nvl": "nvl", "nvl2": "nvl2", "raise_error": "raise_error",
    "error": "raise_error",
    # aggregates
    "avg": "avg", "mean": "avg", "count": "count", "min": "min", "max": "max",
    "sum": "sum", "arg_min": "min_by", "arg_max": "max_by",
    "approx_quantile": "approx_percentile", "quantile_cont": "percentile",
    "every": "bool_and", "kurtosis_pop": "kurtosis",
    "skewness_pop": "skewness",
}
