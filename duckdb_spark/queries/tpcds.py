"""TPC-DS workload slice (reference `extension/tpcds/`, BASELINE.md
secondary gate): 34 queries spanning star joins, OR-of-band demographic
filters, UNION-spelled rollups + rank windows, correlated count
subqueries, day-bucket pivots, windowed deviation-from-average, and
returns-chain statistics — each run from ONE SQL text per query through
both engines — Spark through `Connection.sql` (`queries.register_text`)
and DuckDB via the oracle string; each `{table}` field reads the fixture
copy for the caller's scale.

Reference query text: `extension/tpcds/dsdgen/queries/NN.sql` (adapted:
aggregates aliased + cast to rounded doubles so the driver's value-hash
compares engine-independent numbers; every table ref aliased so the oracle
can substitute read_parquet sources).

Fixture: the official dsdgen is C code the reference builds natively; here
a deterministic arithmetic fixture (same schema, `dsdgen/schema/*.sql`)
is generated on demand into /tmp — pure hash arithmetic, no RNG, so both
engines and every rerun see byte-identical tables. Row counts ≈ sf0.01.
Predicate constants in the reference queries (i_manufact_id=128, d_moy=11,
cd_gender='M', s_state='TN', s_store_name='ese', …) are covered by the
dimension value cycles by construction.

Scale posture: all 10 are star joins — Catalyst broadcasts every dim
(item/store/date_dim/… are far under the 16 MB threshold at any SF; at
100 TB the fact tables shuffle only for the final group-by, and the
ss⋈sr⋈cs chains in q25/q29 hash-join on (customer, item[, ticket]) keys
sized by AQE).
"""

from __future__ import annotations

import os

from duckdb_spark.queries import Fixture, register_text

# v5 (round 6): the all-99-query schema — v4's full-channel tables plus
# s_market_id, shared 300-value zip pool (s_zip ⊆ ca_zip for q24/q8),
# customer first-sale/ship dates (q64), address street/gmt/location columns
# (q81/q33), cd dependent-count columns (q10/q35), t_meal_time (q71),
# wr refund-side keys + wr_fee (q85), cr reversed-charge/store-credit/
# inc-tax amounts (q64/q81), an ss_addr_sk NULL cycle (q44), and dsdgen's
# weekly per-(item,warehouse) inventory grid (q39's coefficient of
# variation needs >=2 observations per month). New path so stale fixtures
# regenerate.
TPCDS_DIR = os.environ.get("SPARK_GRAFT_TPCDS_DIR", "/tmp/duckdb_spark_tpcds_v5")

TABLES = [
    "date_dim", "time_dim", "item", "store", "customer", "customer_address",
    "customer_demographics", "household_demographics", "promotion", "reason",
    "store_sales", "store_returns", "catalog_sales",
    "catalog_returns", "web_sales", "web_returns", "inventory", "warehouse",
    "ship_mode", "call_center", "web_page", "web_site", "income_band",
    "catalog_page",
]

_GEN_SQL = """
CREATE OR REPLACE TABLE date_dim AS
SELECT i + 1 AS d_date_sk,
       DATE '1998-01-01' + INTERVAL (i) DAY AS d_date,
       year(DATE '1998-01-01' + INTERVAL (i) DAY) AS d_year,
       month(DATE '1998-01-01' + INTERVAL (i) DAY) AS d_moy,
       day(DATE '1998-01-01' + INTERVAL (i) DAY) AS d_dom,
       quarter(DATE '1998-01-01' + INTERVAL (i) DAY) AS d_qoy,
       dayofweek(DATE '1998-01-01' + INTERVAL (i) DAY) AS d_dow,
       -- real dsdgen numbering: month_seq 1200 = Jan 2000
       (d_year - 1900) * 12 + (d_moy - 1) AS d_month_seq,
       d_year || 'Q' || d_qoy AS d_quarter_name,
       dayname(d_date) AS d_day_name,
       -- Sunday-started weeks; 1998-01-01 is a Thursday (4 days past
       -- Sunday); 5270 ≈ the real dsdgen week_seq at that date
       5270 + (i + 4) // 7 AS d_week_seq
FROM range(1826) t(i);

CREATE OR REPLACE TABLE time_dim AS
SELECT i AS t_time_sk, i AS t_time, (i // 3600)::INT AS t_hour,
       ((i % 3600) // 60)::INT AS t_minute, (i % 60)::INT AS t_second,
       CASE WHEN i // 3600 BETWEEN 6 AND 8 THEN 'breakfast'
            WHEN i // 3600 BETWEEN 11 AND 13 THEN 'lunch'
            WHEN i // 3600 BETWEEN 17 AND 19 THEN 'dinner'
            ELSE NULL END AS t_meal_time,
       CASE WHEN i < 43200 THEN 'AM' ELSE 'PM' END AS t_am_pm
FROM range(86400) t(i);

CREATE OR REPLACE TABLE item AS
SELECT i + 1 AS i_item_sk,
       'ITEM' || lpad((i + 1)::VARCHAR, 6, '0') AS i_item_id,
       'description of item ' || (i + 1) AS i_item_desc,
       1 + (i * 7) % 251 AS i_brand_id,
       'brand#' || (1 + (i * 7) % 251) AS i_brand,
       1 + i % 500 AS i_manufact_id,
       'manufact#' || (1 + i % 500) AS i_manufact,
       1 + (i * 13) % 100 AS i_manager_id,
       1 + (i * 3) % 7 AS i_category_id,
       'category#' || (1 + (i * 3) % 7) AS i_category,
       1 + (i * 11) % 19 AS i_class_id,
       'class#' || (1 + (i * 11) % 19) AS i_class,
       CAST(1 + (i * 7919 % 9000) / 100.0 AS DECIMAL(7,2)) AS i_current_price,
       CAST(1 + (i * 6101 % 8000) / 100.0 AS DECIMAL(7,2)) AS i_wholesale_cost,
       'name#' || (1 + (i * 5) % 97) AS i_product_name,
       ['powder','khaki','brown','honeydew','floral','deep','light',
        'cornflower','midnight','snow','cyan','papaya','orange','frosted',
        'forest','ghost','red','blue'][1 + (i * 7) % 18] AS i_color,
       ['Ounce','Oz','Bunch','Ton','N/A','Dozen','Box','Pound','Pallet',
        'Gross','Cup','Dram','Each','Tbl','Lb','Bundle'][1 + (i * 11) % 16]
           AS i_units,
       ['medium','extra large','N/A','small','petite','large'][1 + (i * 13) % 6]
           AS i_size
FROM range(2000) t(i);

CREATE OR REPLACE TABLE store AS
SELECT i + 1 AS s_store_sk,
       'ST' || lpad((i + 1)::VARCHAR, 4, '0') AS s_store_id,
       ['ese', 'ose', 'ation', 'bar'][1 + i % 4] AS s_store_name,
       ['Fairview', 'Midway', 'Plainview', 'Centerville'][1 + i % 4] AS s_city,
       ['TN', 'KY', 'GA'][1 + i % 3] AS s_state,
       -- zips drawn from the same 300-value pool as customer_address so
       -- q24's s_zip = ca_zip equi-join is non-empty by construction
       lpad((10000 + ((i * 37) % 300) * 301)::VARCHAR, 5, '0') AS s_zip,
       1 + i % 10 AS s_market_id,
       'county#' || (1 + i % 5) AS s_county,
       1 + i % 2 AS s_company_id,
       'company#' || (1 + i % 2) AS s_company_name,
       (100 + i * 7)::VARCHAR AS s_street_number,
       ['Main','Oak','Elm','Park'][1 + i % 4] AS s_street_name,
       ['St','Ave','Blvd','Ln'][1 + (i * 3) % 4] AS s_street_type,
       'Suite ' || (10 * (1 + i % 9)) AS s_suite_number,
       -5 AS s_gmt_offset
FROM range(12) t(i);

CREATE OR REPLACE TABLE customer AS
SELECT i + 1 AS c_customer_sk,
       'CUST' || lpad((i + 1)::VARCHAR, 8, '0') AS c_customer_id,
       ['Ann','Ben','Cara','Dan','Eva','Finn','Gia','Hank',
        'Iris','Jack','Kira','Liam','Mona','Nick','Omar','Pia'][1 + i % 16]
           AS c_first_name,
       ['Smith','Jones','Lee','Patel','Kim','Garcia','Chen','Olsen',
        'Singh','Brown','Rossi','Novak','Sato','Khan','Diaz','Weber'][1 + (i * 7) % 16]
           AS c_last_name,
       1 + (i * 3) % 5000 AS c_current_addr_sk,
       1 + (i * 11) % 280 AS c_current_cdemo_sk,
       1 + (i * 13) % 200 AS c_current_hdemo_sk,
       ['Mr.','Mrs.','Ms.','Dr.','Sir'][1 + (i * 7) % 5] AS c_salutation,
       ['Y','N'][1 + i % 2] AS c_preferred_cust_flag,
       1 + (i * 3) % 28 AS c_birth_day,
       1 + (i * 5) % 12 AS c_birth_month,
       1924 + (i * 7) % 68 AS c_birth_year,
       ['UNITED STATES','CANADA','MEXICO','GERMANY','JAPAN','BRAZIL',
        'FRANCE','INDIA'][1 + (i * 11) % 8] AS c_birth_country,
       'login' || (i + 1) AS c_login,
       'user' || (i + 1) || '@example.com' AS c_email_address,
       1 + (i * 11) % 1826 AS c_last_review_date_sk,
       1 + (i * 17) % 1826 AS c_first_sales_date_sk,
       1 + (i * 19) % 1826 AS c_first_shipto_date_sk
FROM range(5000) t(i);

CREATE OR REPLACE TABLE customer_address AS
SELECT i + 1 AS ca_address_sk,
       ['Fairview','Midway','Plainview','Centerville','Oakland','Riverside',
        'Lakeview','Georgetown','Springdale','Ashland','Oak Grove','Antioch',
        'Clinton','Greenville','Bethel','Union','Salem','Enterprise',
        'Friendship','Glendale'][1 + (i * 17) % 20] AS ca_city,
       'county#' || (1 + i % 30) AS ca_county,
       ['TN','KY','GA','AL','VA','NC','SC','OH'][1 + (i * 3) % 8] AS ca_state,
       -- 300-value zip pool (~17 addresses per zip) so q8's HAVING
       -- count(*) > 10 preferred-customer zip census is non-trivial and
       -- q24's s_zip = ca_zip join has matches
       lpad((10000 + (i % 300) * 301)::VARCHAR, 5, '0') AS ca_zip,
       'United States' AS ca_country,
       (100 + i * 7)::VARCHAR AS ca_street_number,
       ['Main','Oak','Elm','Park','Cedar','Maple'][1 + (i * 7) % 6]
           AS ca_street_name,
       ['St','Ave','Blvd','Ln'][1 + (i * 3) % 4] AS ca_street_type,
       'Suite ' || (10 * (1 + i % 9)) AS ca_suite_number,
       [-5, -6, -7][1 + i % 3] AS ca_gmt_offset,
       ['condo','apartment','single family'][1 + (i * 5) % 3]
           AS ca_location_type
FROM range(5000) t(i);

CREATE OR REPLACE TABLE customer_demographics AS
SELECT i + 1 AS cd_demo_sk,
       ['M', 'F'][1 + i % 2] AS cd_gender,
       ['S', 'M', 'D', 'W', 'U'][1 + (i // 2) % 5] AS cd_marital_status,
       ['Primary', 'Secondary', 'College', '2 yr Degree', '4 yr Degree',
        'Advanced Degree', 'Unknown'][1 + (i // 10) % 7] AS cd_education_status,
       500 * (1 + i % 20) AS cd_purchase_estimate,
       ['Good', 'Low Risk', 'High Risk', 'Unknown'][1 + i % 4] AS cd_credit_rating,
       (i // 70) % 4 AS cd_dep_count,
       (i // 35) % 5 AS cd_dep_employed_count,
       (i // 20) % 3 AS cd_dep_college_count
FROM range(280) t(i);

CREATE OR REPLACE TABLE household_demographics AS
SELECT i + 1 AS hd_demo_sk,
       1 + i % 20 AS hd_income_band_sk,
       ['>10000', '5001-10000', '1001-5000', '501-1000', '0-500'][1 + i % 5]
           AS hd_buy_potential,
       i % 10 AS hd_dep_count,
       (i // 2) % 5 AS hd_vehicle_count
FROM range(200) t(i);

CREATE OR REPLACE TABLE promotion AS
SELECT i + 1 AS p_promo_sk,
       'PROMO' || lpad((i + 1)::VARCHAR, 4, '0') AS p_promo_id,
       ['N', 'Y'][1 + i % 2] AS p_channel_dmail,
       ['N', 'Y'][1 + (i // 2) % 2] AS p_channel_email,
       ['N', 'Y'][1 + (i // 4) % 2] AS p_channel_event,
       ['N', 'Y'][1 + (i // 8) % 2] AS p_channel_tv
FROM range(30) t(i);

CREATE OR REPLACE TABLE store_sales AS
SELECT 1 + (i * 37) % 1826 AS ss_sold_date_sk,
       (i * 101) % 86400 AS ss_sold_time_sk,
       1 + (i * 13) % 2000 AS ss_item_sk,
       1 + (i * 7) % 5000 AS ss_customer_sk,
       1 + (i * 11) % 280 AS ss_cdemo_sk,
       1 + (i * 17) % 200 AS ss_hdemo_sk,
       -- NULL cycle: q44's baseline scalar subquery averages the
       -- missing-address slice
       CASE WHEN i % 103 = 0 THEN NULL
            ELSE 1 + (i * 23) % 5000 END AS ss_addr_sk,
       -- NULL cycle: q76 aggregates the no-store channel slice
       CASE WHEN i % 101 = 0 THEN NULL ELSE 1 + i % 12 END AS ss_store_sk,
       1 + (i * 5) % 30 AS ss_promo_sk,
       1 + i // 3 AS ss_ticket_number,
       1 + (i * 3) % 99 AS ss_quantity,
       CAST(1 + (i * 7919 % 9000) / 100.0 AS DECIMAL(7,2)) AS ss_list_price,
       CAST(1 + (i * 6101 % 8000) / 100.0 AS DECIMAL(7,2)) AS ss_sales_price,
       CAST(1 + (i * 4507 % 900000) / 100.0 AS DECIMAL(7,2)) AS ss_ext_sales_price,
       CAST(1 + (i * 5309 % 990000) / 100.0 AS DECIMAL(7,2)) AS ss_ext_list_price,
       CAST((i * 3571 % 80000) / 100.0 AS DECIMAL(7,2)) AS ss_ext_tax,
       CAST((i * 2903 % 3000) / 100.0 AS DECIMAL(7,2)) AS ss_coupon_amt,
       CAST(1 + (i * 6983 % 900000) / 100.0 AS DECIMAL(7,2)) AS ss_net_paid,
       CAST(((i * 104729) % 20000 - 10000) / 100.0 AS DECIMAL(7,2)) AS ss_net_profit,
       CAST(1 + (i * 3109 % 9000) / 100.0 AS DECIMAL(7,2)) AS ss_wholesale_cost,
       CAST(1 + (i * 4001 % 800000) / 100.0 AS DECIMAL(7,2)) AS ss_ext_wholesale_cost,
       CAST((i * 5077 % 50000) / 100.0 AS DECIMAL(7,2)) AS ss_ext_discount_amt
FROM range(120000) t(i);

CREATE OR REPLACE TABLE store_returns AS
SELECT DISTINCT
       ss_item_sk AS sr_item_sk,
       ss_customer_sk AS sr_customer_sk,
       ss_ticket_number AS sr_ticket_number,
       ss_store_sk AS sr_store_sk,
       LEAST(1826, ss_sold_date_sk + 45) AS sr_returned_date_sk,
       1 + (ss_item_sk * 3 + ss_ticket_number) % 20 AS sr_return_quantity,
       CAST(1 + ((ss_item_sk * 131 + ss_ticket_number * 17) % 50000) / 100.0
            AS DECIMAL(7,2)) AS sr_return_amt,
       CAST(1 + ((ss_item_sk * 89 + ss_ticket_number * 29) % 40000) / 100.0
            AS DECIMAL(7,2)) AS sr_net_loss,
       1 + (ss_item_sk * 7 + ss_ticket_number * 3) % 35 AS sr_reason_sk,
       ss_cdemo_sk AS sr_cdemo_sk
FROM store_sales
WHERE (ss_item_sk + ss_ticket_number) % 9 = 0;

CREATE OR REPLACE TABLE reason AS
SELECT i + 1 AS r_reason_sk,
       'R' || lpad((i + 1)::VARCHAR, 4, '0') AS r_reason_id,
       'reason ' || (i + 1) AS r_reason_desc
FROM range(35) t(i);

CREATE OR REPLACE TABLE catalog_sales AS
WITH both_arms AS (
  -- arm 1: FK-aligned with store_sales (q25/q29 returns-chain overlap)
  SELECT ss_sold_date_sk AS base_date, ss_item_sk AS it, ss_customer_sk AS cu,
         (ss_sold_date_sk * 2001 + ss_item_sk) * 5001 + ss_customer_sk AS ordno
  FROM (SELECT DISTINCT ss_sold_date_sk, ss_item_sk, ss_customer_sk
        FROM store_sales WHERE (ss_item_sk * 31 + ss_customer_sk) % 7 = 0)
  UNION ALL
  -- arm 2: independent volume
  SELECT 1 + (i * 41) % 1826, 1 + (i * 19) % 2000, 1 + (i * 3) % 5000, i
  FROM range(60000) t(i)
)
SELECT LEAST(1826, base_date + 60) AS cs_sold_date_sk,
       (it * 211 + cu * 101) % 86400 AS cs_sold_time_sk,
       LEAST(1826, base_date + 62 + (it + cu) % 58) AS cs_ship_date_sk,
       it AS cs_item_sk,
       cu AS cs_bill_customer_sk,
       -- it + cu is always even (both arms derive them from the same i),
       -- so mix in it//2 to reach both parities of the demo keys
       1 + (it * 11 + cu + it // 2) % 280 AS cs_bill_cdemo_sk,
       1 + (it * 17 + cu + cu // 2) % 200 AS cs_bill_hdemo_sk,
       1 + (it * 23 + cu) % 5000 AS cs_bill_addr_sk,
       CASE WHEN (it + cu) % 97 = 0 THEN NULL
            ELSE 1 + (it * 29 + cu * 3) % 5000 END AS cs_ship_addr_sk,
       CASE WHEN (it * 3 + cu) % 89 = 0 THEN NULL
            ELSE 1 + (it * 31 + cu) % 5000 END AS cs_ship_customer_sk,
       ordno AS cs_order_number,
       1 + (it + cu) % 5 AS cs_warehouse_sk,
       1 + (it * 7 + cu) % 20 AS cs_ship_mode_sk,
       1 + (it * 3 + cu) % 6 AS cs_call_center_sk,
       1 + (it * 13 + cu) % 40 AS cs_catalog_page_sk,
       1 + (it * 5 + cu) % 30 AS cs_promo_sk,
       1 + (it * 3 + cu) % 99 AS cs_quantity,
       CAST(1 + ((it * 7919 + cu) % 9000) / 100.0
            AS DECIMAL(7,2)) AS cs_list_price,
       CAST(1 + ((it * 6101 + cu) % 8000) / 100.0
            AS DECIMAL(7,2)) AS cs_sales_price,
       CAST(((it * 2903 + cu) % 3000) / 100.0
            AS DECIMAL(7,2)) AS cs_coupon_amt,
       CAST(1 + ((it * 4507 + cu) % 900000) / 100.0
            AS DECIMAL(7,2)) AS cs_ext_sales_price,
       CAST(1 + ((it * 5309 + cu * 3) % 990000) / 100.0
            AS DECIMAL(7,2)) AS cs_ext_list_price,
       CAST(1 + ((it * 3109 + cu) % 9000) / 100.0
            AS DECIMAL(7,2)) AS cs_wholesale_cost,
       CAST(1 + ((it * 4001 + cu * 7) % 800000) / 100.0
            AS DECIMAL(7,2)) AS cs_ext_wholesale_cost,
       CAST(((it * 5077 + cu * 7) % 50000) / 100.0
            AS DECIMAL(7,2)) AS cs_ext_discount_amt,
       CAST(((it * 3313 + cu * 11) % 30000) / 100.0
            AS DECIMAL(7,2)) AS cs_ext_ship_cost,
       CAST(1 + ((it * 6983 + cu) % 900000) / 100.0
            AS DECIMAL(7,2)) AS cs_net_paid,
       CAST(1 + ((it * 7127 + cu) % 950000) / 100.0
            AS DECIMAL(7,2)) AS cs_net_paid_inc_tax,
       CAST((((it * 104729 + cu) % 20000) - 10000) / 100.0
            AS DECIMAL(7,2)) AS cs_net_profit
FROM both_arms;

CREATE OR REPLACE TABLE catalog_returns AS
SELECT cs_item_sk AS cr_item_sk,
       cs_order_number AS cr_order_number,
       LEAST(1826, cs_sold_date_sk + 30 + (cs_item_sk % 30)) AS cr_returned_date_sk,
       cs_bill_customer_sk AS cr_returning_customer_sk,
       cs_bill_addr_sk AS cr_returning_addr_sk,
       cs_catalog_page_sk AS cr_catalog_page_sk,
       cs_call_center_sk AS cr_call_center_sk,
       1 + (cs_item_sk * 3 + cs_order_number) % 20 AS cr_return_quantity,
       CAST(1 + ((cs_item_sk * 131 + cs_order_number * 17) % 50000) / 100.0
            AS DECIMAL(7,2)) AS cr_return_amount,
       CAST(1 + ((cs_item_sk * 89 + cs_order_number * 29) % 40000) / 100.0
            AS DECIMAL(7,2)) AS cr_net_loss,
       CAST(((cs_item_sk * 61 + cs_order_number * 7) % 30000) / 100.0
            AS DECIMAL(7,2)) AS cr_refunded_cash,
       CAST(((cs_item_sk * 43 + cs_order_number * 11) % 20000) / 100.0
            AS DECIMAL(7,2)) AS cr_reversed_charge,
       CAST(((cs_item_sk * 53 + cs_order_number * 13) % 15000) / 100.0
            AS DECIMAL(7,2)) AS cr_store_credit,
       CAST(1 + ((cs_item_sk * 137 + cs_order_number * 19) % 55000) / 100.0
            AS DECIMAL(7,2)) AS cr_return_amt_inc_tax,
       1 + (cs_item_sk * 7 + cs_order_number * 3) % 35 AS cr_reason_sk
FROM catalog_sales
WHERE (cs_item_sk + cs_order_number) % 11 = 0;

CREATE OR REPLACE TABLE web_sales AS
SELECT 1 + (i * 43) % 1826 AS ws_sold_date_sk,
       (i * 211) % 86400 AS ws_sold_time_sk,
       LEAST(1826, 1 + (i * 43) % 1826 + 2 + i % 58) AS ws_ship_date_sk,
       1 + (i * 17) % 2000 AS ws_item_sk,
       1 + (i * 23) % 5000 AS ws_bill_customer_sk,
       1 + (i * 7) % 280 AS ws_bill_cdemo_sk,
       1 + (i * 19) % 200 AS ws_ship_hdemo_sk,
       1 + (i * 29) % 5000 AS ws_bill_addr_sk,
       CASE WHEN i % 89 = 0 THEN NULL
            ELSE 1 + (i * 31) % 5000 END AS ws_ship_customer_sk,
       1 + (i * 37) % 5000 AS ws_ship_addr_sk,
       1 + (i * 3) % 12 AS ws_web_site_sk,
       1 + (i * 5) % 20 AS ws_web_page_sk,
       1 + i % 5 AS ws_warehouse_sk,
       1 + (i * 7) % 20 AS ws_ship_mode_sk,
       1 + (i * 11) % 30 AS ws_promo_sk,
       1 + i // 2 AS ws_order_number,
       1 + (i * 3) % 99 AS ws_quantity,
       CAST(1 + (i * 7919 % 9000) / 100.0 AS DECIMAL(7,2)) AS ws_list_price,
       CAST(1 + (i * 6101 % 8000) / 100.0 AS DECIMAL(7,2)) AS ws_sales_price,
       CAST(1 + (i * 4507 % 900000) / 100.0 AS DECIMAL(7,2)) AS ws_ext_sales_price,
       CAST(1 + (i * 5309 % 990000) / 100.0 AS DECIMAL(7,2)) AS ws_ext_list_price,
       CAST(1 + (i * 3109 % 9000) / 100.0 AS DECIMAL(7,2)) AS ws_wholesale_cost,
       CAST(1 + (i * 4001 % 800000) / 100.0 AS DECIMAL(7,2)) AS ws_ext_wholesale_cost,
       CAST((i * 5077 % 50000) / 100.0 AS DECIMAL(7,2)) AS ws_ext_discount_amt,
       CAST((i * 3313 % 30000) / 100.0 AS DECIMAL(7,2)) AS ws_ext_ship_cost,
       CAST(1 + (i * 6983 % 900000) / 100.0 AS DECIMAL(7,2)) AS ws_net_paid,
       CAST(((i * 104729) % 20000 - 10000) / 100.0 AS DECIMAL(7,2)) AS ws_net_profit
FROM range(80000) t(i);

CREATE OR REPLACE TABLE web_returns AS
SELECT ws_item_sk AS wr_item_sk,
       ws_order_number AS wr_order_number,
       LEAST(1826, ws_sold_date_sk + 40 + (ws_item_sk % 20)) AS wr_returned_date_sk,
       ws_bill_customer_sk AS wr_returning_customer_sk,
       ws_ship_addr_sk AS wr_returning_addr_sk,
       ws_web_page_sk AS wr_web_page_sk,
       1 + (ws_item_sk * 3 + ws_order_number) % 20 AS wr_return_quantity,
       CAST(1 + ((ws_item_sk * 131 + ws_order_number * 17) % 50000) / 100.0
            AS DECIMAL(7,2)) AS wr_return_amt,
       CAST(1 + ((ws_item_sk * 89 + ws_order_number * 29) % 40000) / 100.0
            AS DECIMAL(7,2)) AS wr_net_loss,
       CAST(((ws_item_sk * 61 + ws_order_number * 7) % 30000) / 100.0
            AS DECIMAL(7,2)) AS wr_refunded_cash,
       CAST(((ws_item_sk * 41 + ws_order_number * 5) % 10000) / 100.0
            AS DECIMAL(7,2)) AS wr_fee,
       1 + (ws_item_sk * 11 + ws_order_number) % 280 AS wr_refunded_cdemo_sk,
       ws_bill_cdemo_sk AS wr_returning_cdemo_sk,
       ws_bill_addr_sk AS wr_refunded_addr_sk,
       1 + (ws_item_sk * 7 + ws_order_number * 3) % 35 AS wr_reason_sk
FROM web_sales
WHERE (ws_item_sk * 13 + ws_order_number) % 11 = 0;

CREATE OR REPLACE TABLE inventory AS
-- dsdgen shape: a weekly snapshot for EVERY (item, warehouse) pair, so
-- per-month per-(w,i) groups have ~4 observations (q39's stddev/mean
-- coefficient-of-variation needs >=2 rows per group to be non-degenerate)
SELECT 1 + wk * 7 AS inv_date_sk,
       1 + it AS inv_item_sk,
       1 + wh AS inv_warehouse_sk,
       -- the it*wk cross-term varies the weekly pattern per item; without
       -- it every item sees the same shifted sequence and q39's
       -- cov > 1 month-pair join is empty for number-theoretic reasons
       ((it * 7907 + wh * 251 + wk * 463 + (it * wk) % 997) % 1009) % 1000
           AS inv_quantity_on_hand
FROM range(2000) t1(it), range(5) t2(wh), range(261) t3(wk);

CREATE OR REPLACE TABLE warehouse AS
SELECT i + 1 AS w_warehouse_sk,
       'WH' || lpad((i + 1)::VARCHAR, 2, '0') AS w_warehouse_id,
       'Warehouse#' || (i + 1) AS w_warehouse_name,
       1000 * (i + 1) AS w_warehouse_sq_ft,
       ['Fairview', 'Midway', 'Plainview', 'Centerville', 'Oakland'][1 + i % 5]
           AS w_city,
       'county#' || (1 + i % 5) AS w_county,
       ['TN', 'KY', 'GA'][1 + i % 3] AS w_state,
       'United States' AS w_country,
       -5 AS w_gmt_offset
FROM range(5) t(i);

CREATE OR REPLACE TABLE ship_mode AS
SELECT i + 1 AS sm_ship_mode_sk,
       'SM' || lpad((i + 1)::VARCHAR, 2, '0') AS sm_ship_mode_id,
       ['EXPRESS', 'OVERNIGHT', 'REGULAR', 'NEXT DAY', 'LIBRARY'][1 + i % 5]
           AS sm_type,
       ['AIR', 'SURFACE', 'SEA'][1 + i % 3] AS sm_code,
       ['UPS', 'FEDEX', 'AIRBORNE', 'USPS', 'DHL'][1 + (i * 3) % 5] AS sm_carrier
FROM range(20) t(i);

CREATE OR REPLACE TABLE call_center AS
SELECT i + 1 AS cc_call_center_sk,
       'CC' || lpad((i + 1)::VARCHAR, 2, '0') AS cc_call_center_id,
       'call center ' || (i + 1) AS cc_name,
       'county#' || (1 + i % 5) AS cc_county,
       'manager#' || (1 + i % 3) AS cc_manager
FROM range(6) t(i);

CREATE OR REPLACE TABLE web_page AS
SELECT i + 1 AS wp_web_page_sk,
       'WP' || lpad((i + 1)::VARCHAR, 2, '0') AS wp_web_page_id,
       4900 + i * 20 AS wp_char_count,
       'http://www.site' || (i % 4) || '.com/page' || i AS wp_url,
       ['order', 'general', 'welcome', 'protected', 'dynamic', 'feedback']
           [1 + i % 6] AS wp_type
FROM range(20) t(i);

CREATE OR REPLACE TABLE web_site AS
SELECT i + 1 AS web_site_sk,
       'WS' || lpad((i + 1)::VARCHAR, 2, '0') AS web_site_id,
       'site_' || (i % 4) AS web_name,
       ['pri', 'ally', 'able', 'eing'][1 + i % 4] AS web_company_name
FROM range(12) t(i);

CREATE OR REPLACE TABLE income_band AS
SELECT i + 1 AS ib_income_band_sk,
       i * 10000 AS ib_lower_bound,
       (i + 1) * 10000 AS ib_upper_bound
FROM range(20) t(i);

CREATE OR REPLACE TABLE catalog_page AS
SELECT i + 1 AS cp_catalog_page_sk,
       'CP' || lpad((i + 1)::VARCHAR, 4, '0') AS cp_catalog_page_id,
       1 + i % 5 AS cp_catalog_number,
       1 + i % 8 AS cp_catalog_page_number,
       ['bi-annual', 'quarterly', 'monthly'][1 + i % 3] AS cp_type
FROM range(40) t(i);
"""


def fixture_dir(mult: int = 1) -> str:
    """Fixture path for a scale multiplier (1 = the base ~sf0.01 fixture,
    whose path the registered oracle strings bake in)."""
    return TPCDS_DIR if mult <= 1 else f"{TPCDS_DIR}_x{mult}"


def ensure_fixture(mult: int = 1) -> str:
    """Generate the TPC-DS fixture if missing (deterministic; idempotent).
    `mult` scales the fact tables (store_sales / its derived store_returns
    and catalog_sales) linearly while dimensions stay fixed — dsdgen
    semantics — so the bench at sf0.1/sf1 measures operator throughput
    instead of the two engines' per-job floors (VERDICT r05 item 2)."""
    out_dir = fixture_dir(mult)
    marker = os.path.join(out_dir, ".complete")
    if os.path.exists(marker):
        return out_dir
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    gen = (
        _GEN_SQL
        .replace("range(120000)", f"range({120000 * mult})")
        .replace("range(60000)", f"range({60000 * mult})")
        .replace("range(80000)", f"range({80000 * mult})")
    )
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(gen)
    for t in TABLES:
        con.execute(f"COPY {t} TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    open(marker, "w").write("ok\n")
    return out_dir


FIXTURE = Fixture(tuple(TABLES), fixture_dir, ensure_fixture)


def _expand_avgr(sql: str) -> str:
    """AVGR(col) — engine-independent rounded average. Double division is
    bit-identical IEEE in both engines; pinning it to DECIMAL(20,6) before
    the 2-decimal ROUND removes the half-point edge where one engine's
    round(double, 2) sees x.xx49999... and the other x.xx5 (tpcds_q26)."""
    import re

    return re.sub(
        r"AVGR\(([^()]*)\)",
        r"CAST(ROUND(CAST(CAST(SUM(\1) AS DOUBLE) / COUNT(\1)"
        r" AS DECIMAL(20,6)), 2) AS DOUBLE)",
        sql,
    )


def _tpcds(name: str, sql: str, spark_sql: str | None = None):
    """Register a TPC-DS query over the deterministic fixture (fact tables
    scale with sf_dir; reference extension/tpcds/dsdgen). `spark_sql`, when
    given, is a provably equivalent restructure of the oracle text that
    Spark runs instead (guide §2.4: same result, fewer scans/exchanges);
    the oracle keeps the reference shape."""
    return register_text(name, _expand_avgr(sql), spark_sql and _expand_avgr(spark_sql),
                         FIXTURE)


# q3 — star join, month/manufacturer slice (queries/03.sql)
_tpcds("tpcds_q03", """
SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS sum_agg
FROM {date_dim} dt, {store_sales} store_sales, {item} item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 128 AND dt.d_moy = 11
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, sum_agg DESC, brand_id
LIMIT 100
""")

# q7 — 4-dim star with demographic/promo filters (07.sql)
_tpcds("tpcds_q07", """
SELECT i_item_id,
       AVGR(ss_quantity) AS agg1,
       AVGR(ss_list_price) AS agg2,
       AVGR(ss_coupon_amt) AS agg3,
       AVGR(ss_sales_price) AS agg4
FROM {store_sales} store_sales, {customer_demographics} customer_demographics,
     {date_dim} date_dim, {item} item, {promotion} promotion
WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
  AND cd_gender = 'M' AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N') AND d_year = 2000
GROUP BY i_item_id ORDER BY i_item_id LIMIT 100
""")

# q19 — 6-table star with zip-mismatch predicate (19.sql)
_tpcds("tpcds_q19", """
SELECT i_brand_id AS brand_id, i_brand AS brand, i_manufact_id, i_manufact,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
FROM {date_dim} date_dim, {store_sales} store_sales, {item} item,
     {customer} customer, {customer_address} customer_address, {store} store
WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
  AND i_manager_id = 8 AND d_moy = 11 AND d_year = 1998
  AND ss_customer_sk = c_customer_sk AND c_current_addr_sk = ca_address_sk
  AND SUBSTRING(ca_zip, 1, 5) <> SUBSTRING(s_zip, 1, 5)
  AND ss_store_sk = s_store_sk
GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
LIMIT 100
""")

# q25 — ss ⋈ sr ⋈ cs fact chain on (customer, item, ticket) (25.sql).
# Restructured for Spark as nested date-filtered subqueries with BROADCAST
# hints: the d1 slice cuts store_sales 12M → 197k before any fact shuffle,
# and each tiny intermediate broadcasts, so store_returns and catalog_sales
# are scanned but never shuffled (AQE's own broadcast conversion comes too
# late — the fact map stages launch in parallel with the build side).
# DuckDB flattens the subqueries and ignores the hint comments, so the
# derived oracle text is performance-neutral there (its optimizer derives
# this order itself via join_filter_pushdown). Measured 3.3s → 2.0s at sf1.
_tpcds("tpcds_q25", """
SELECT /*+ BROADCAST(ssr) */ i_item_id, i_item_desc, s_store_id, s_store_name,
       ROUND(CAST(SUM(ss_net_profit) AS DOUBLE), 2) AS store_sales_profit,
       ROUND(CAST(SUM(sr_net_loss) AS DOUBLE), 2) AS store_returns_loss,
       ROUND(CAST(SUM(cs_net_profit) AS DOUBLE), 2) AS catalog_sales_profit
FROM (
  SELECT /*+ BROADCAST(ssd) */ ss_item_sk, ss_store_sk, ss_net_profit,
         sr_net_loss, sr_customer_sk, sr_item_sk
  FROM (
    SELECT ss_item_sk, ss_store_sk, ss_customer_sk, ss_ticket_number, ss_net_profit
    FROM {store_sales} store_sales, {date_dim} d1
    WHERE d1.d_moy = 4 AND d1.d_year = 2001 AND d1.d_date_sk = ss_sold_date_sk
  ) ssd, {store_returns} store_returns, {date_dim} d2
  WHERE ss_customer_sk = sr_customer_sk AND ss_item_sk = sr_item_sk
    AND ss_ticket_number = sr_ticket_number
    AND sr_returned_date_sk = d2.d_date_sk
    AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 2001
) ssr, {catalog_sales} catalog_sales, {date_dim} d3, {store} store, {item} item
WHERE sr_customer_sk = cs_bill_customer_sk AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_moy BETWEEN 4 AND 10 AND d3.d_year = 2001
  AND i_item_sk = ss_item_sk AND s_store_sk = ss_store_sk
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
""")

# q26 — catalog-side demographic star (26.sql)
_tpcds("tpcds_q26", """
SELECT i_item_id,
       AVGR(cs_quantity) AS agg1,
       AVGR(cs_list_price) AS agg2,
       AVGR(cs_coupon_amt) AS agg3,
       AVGR(cs_sales_price) AS agg4
FROM {catalog_sales} catalog_sales, {customer_demographics} customer_demographics,
     {date_dim} date_dim, {item} item, {promotion} promotion
WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd_demo_sk AND cs_promo_sk = p_promo_sk
  AND cd_gender = 'M' AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N') AND d_year = 2000
GROUP BY i_item_id ORDER BY i_item_id LIMIT 100
""")

# q29 — quantity version of the fact chain (29.sql)
_tpcds("tpcds_q29", """
SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
       ROUND(CAST(SUM(ss_quantity) AS DOUBLE), 2) AS store_sales_quantity,
       ROUND(CAST(SUM(sr_return_quantity) AS DOUBLE), 2) AS store_returns_quantity,
       ROUND(CAST(SUM(cs_quantity) AS DOUBLE), 2) AS catalog_sales_quantity
FROM {store_sales} store_sales, {store_returns} store_returns,
     {catalog_sales} catalog_sales, {date_dim} d1, {date_dim} d2,
     {date_dim} d3, {store} store, {item} item
WHERE d1.d_moy = 9 AND d1.d_year = 1999 AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_moy BETWEEN 9 AND 9 + 3 AND d2.d_year = 1999
  AND sr_customer_sk = cs_bill_customer_sk AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_year IN (1999, 1999 + 1, 1999 + 2)
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
""")

# q42 — category slice (42.sql)
_tpcds("tpcds_q42", """
SELECT dt.d_year, item.i_category_id, item.i_category,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS sum_sales
FROM {date_dim} dt, {store_sales} store_sales, {item} item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1 AND dt.d_moy = 11 AND dt.d_year = 2000
GROUP BY dt.d_year, item.i_category_id, item.i_category
ORDER BY sum_sales DESC, dt.d_year, item.i_category_id, item.i_category
LIMIT 100
""")

# q55 — brand slice (55.sql shape: manager 28, moy 11, year 1999)
_tpcds("tpcds_q55", """
SELECT i_brand_id AS brand_id, i_brand AS brand,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
FROM {date_dim} date_dim, {store_sales} store_sales, {item} item
WHERE d_date_sk = ss_sold_date_sk AND ss_item_sk = i_item_sk
  AND i_manager_id = 28 AND d_moy = 11 AND d_year = 1999
GROUP BY i_brand, i_brand_id
ORDER BY ext_price DESC, brand_id
LIMIT 100
""")

# q1 — CTE + correlated scalar subquery (decorrelation; 01.sql)
_tpcds("tpcds_q01", """
WITH customer_total_return AS
  (SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
          SUM(sr_return_amt) AS ctr_total_return
   FROM {store_returns} store_returns, {date_dim} date_dim
   WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
   GROUP BY sr_customer_sk, sr_store_sk)
SELECT c_customer_id
FROM customer_total_return ctr1, {store} store, {customer} customer
WHERE ctr1.ctr_total_return >
    (SELECT AVG(ctr_total_return) * 1.2 FROM customer_total_return ctr2
     WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  AND s_store_sk = ctr1.ctr_store_sk AND s_state = 'TN'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id
LIMIT 100
""")

# q96 — selective count over time/demographic dims (96.sql)
_tpcds("tpcds_q96", """
SELECT COUNT(*) AS cnt
FROM {store_sales} store_sales, {household_demographics} household_demographics,
     {time_dim} time_dim, {store} store
WHERE ss_sold_time_sk = time_dim.t_time_sk
  AND ss_hdemo_sk = household_demographics.hd_demo_sk
  AND ss_store_sk = s_store_sk
  AND time_dim.t_hour = 20 AND time_dim.t_minute >= 30
  AND household_demographics.hd_dep_count = 7
  AND store.s_store_name = 'ese'
""")

# ---- round-5 expansion: 9 more query shapes (constants adapted to the
# fixture's value cycles, as documented in the module header) ----

# q15 — catalog sales by zip with OR-of-predicates (15.sql)
_tpcds("tpcds_q15", """
SELECT ca_zip, ROUND(CAST(SUM(cs_sales_price) AS DOUBLE), 2) AS sum_sales
FROM {catalog_sales} catalog_sales, {customer} customer,
     {customer_address} customer_address, {date_dim} date_dim
WHERE cs_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND (SUBSTRING(ca_zip, 1, 5) IN ('10301', '10602', '13311', '23545')
       OR ca_state IN ('GA', 'VA', 'NC')
       OR cs_sales_price > 50)
  AND cs_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip
ORDER BY ca_zip NULLS FIRST
LIMIT 100
""")

# q34 — ticket-count band join back to customer (34.sql)
_tpcds("tpcds_q34", """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM
  (SELECT ss_ticket_number, ss_customer_sk, COUNT(*) AS cnt
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
        {household_demographics} household_demographics
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND (date_dim.d_dom BETWEEN 1 AND 3 OR date_dim.d_dom BETWEEN 25 AND 28)
     AND (household_demographics.hd_buy_potential = '>10000'
          OR household_demographics.hd_buy_potential = '1001-5000')
     AND household_demographics.hd_vehicle_count > 0
     AND (CASE WHEN household_demographics.hd_vehicle_count > 0
               THEN (household_demographics.hd_dep_count * 1.000)
                    / household_demographics.hd_vehicle_count
               ELSE NULL END) > 1.2
     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
     AND store.s_county = 'county#1'
   GROUP BY ss_ticket_number, ss_customer_sk) dn, {customer} customer
WHERE ss_customer_sk = c_customer_sk AND cnt BETWEEN 1 AND 5
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         c_salutation NULLS FIRST, c_preferred_cust_flag DESC NULLS FIRST,
         ss_ticket_number NULLS FIRST, cnt
LIMIT 100
""")

# q48 — OR-of-conjunction demographic/address bands (48.sql)
_tpcds("tpcds_q48", """
SELECT CAST(SUM(ss_quantity) AS BIGINT) AS sum_qty
FROM {store_sales} store_sales, {store} store,
     {customer_demographics} customer_demographics,
     {customer_address} customer_address, {date_dim} date_dim
WHERE s_store_sk = ss_store_sk AND ss_sold_date_sk = d_date_sk
  AND d_year = 2000
  AND ((cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'M'
        AND cd_education_status = '4 yr Degree'
        AND ss_sales_price BETWEEN 10.00 AND 30.00)
       OR (cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'D'
           AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 30.00 AND 50.00)
       OR (cd_demo_sk = ss_cdemo_sk AND cd_marital_status = 'S'
           AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 50.00 AND 70.00))
  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        AND ca_state IN ('TN', 'KY', 'GA') AND ss_net_profit BETWEEN 0 AND 50)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('AL', 'VA', 'NC') AND ss_net_profit BETWEEN 10 AND 80)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('SC', 'OH', 'TN') AND ss_net_profit BETWEEN -100 AND 100))
""")

# q61 — promoted-vs-total ratio via two scalar aggregates (61.sql)
_tpcds("tpcds_q61", """
SELECT promotions, total,
       ROUND(CAST(promotions AS DOUBLE) / CAST(total AS DOUBLE) * 100, 4)
           AS promo_pct
FROM
  (SELECT ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS promotions
   FROM {store_sales} store_sales, {store} store, {promotion} promotion,
        {date_dim} date_dim, {customer} customer,
        {customer_address} customer_address, {item} item
   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
     AND ss_promo_sk = p_promo_sk AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk AND ss_item_sk = i_item_sk
     AND ca_state = 'TN' AND i_category = 'category#3'
     AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_event = 'Y')
     AND d_year = 2000 AND d_moy = 11) promotional_sales,
  (SELECT ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS total
   FROM {store_sales} store_sales, {store} store, {date_dim} date_dim,
        {customer} customer, {customer_address} customer_address, {item} item
   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
     AND ss_customer_sk = c_customer_sk AND ca_address_sk = c_current_addr_sk
     AND ss_item_sk = i_item_sk AND ca_state = 'TN'
     AND i_category = 'category#3' AND d_year = 2000 AND d_moy = 11) all_sales
""")

# q68 — bought-city vs home-city mismatch (68.sql)
_tpcds("tpcds_q68", """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       extended_price, extended_tax, list_price
FROM
  (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
          ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS extended_price,
          ROUND(CAST(SUM(ss_ext_list_price) AS DOUBLE), 2) AS list_price,
          ROUND(CAST(SUM(ss_ext_tax) AS DOUBLE), 2) AS extended_tax
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
        {household_demographics} household_demographics,
        {customer_address} customer_address
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND store_sales.ss_addr_sk = customer_address.ca_address_sk
     AND date_dim.d_dom BETWEEN 1 AND 2
     AND (household_demographics.hd_dep_count = 5
          OR household_demographics.hd_vehicle_count = 3)
     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
     AND store.s_city IN ('Fairview', 'Midway')
   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
  {customer} customer, {customer_address} current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name NULLS FIRST, ss_ticket_number NULLS FIRST,
         c_first_name, bought_city, extended_price
LIMIT 100
""")

# q73 — ticket-count band, household slice (73.sql)
_tpcds("tpcds_q73", """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM
  (SELECT ss_ticket_number, ss_customer_sk, COUNT(*) AS cnt
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
        {household_demographics} household_demographics
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND date_dim.d_dom BETWEEN 1 AND 2
     AND (household_demographics.hd_buy_potential = '>10000'
          OR household_demographics.hd_buy_potential = '0-500')
     AND household_demographics.hd_vehicle_count > 0
     AND CASE WHEN household_demographics.hd_vehicle_count > 0
              THEN household_demographics.hd_dep_count * 1.0
                   / household_demographics.hd_vehicle_count
              ELSE NULL END > 1
     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
     AND store.s_county = 'county#2'
   GROUP BY ss_ticket_number, ss_customer_sk) dj, {customer} customer
WHERE ss_customer_sk = c_customer_sk AND cnt BETWEEN 1 AND 5
ORDER BY cnt DESC, c_last_name ASC, c_first_name, c_salutation,
         ss_ticket_number
LIMIT 100
""")

# q79 — per-customer-ticket profit with city detail (79.sql; the
# s_number_of_employees predicate has no fixture column and is dropped)
_tpcds("tpcds_q79", """
SELECT c_last_name, c_first_name,
       SUBSTRING(s_city, 1, 30) AS city30, ss_ticket_number, amt, profit
FROM
  (SELECT ss_ticket_number, ss_customer_sk, store.s_city,
          ROUND(CAST(SUM(ss_coupon_amt) AS DOUBLE), 2) AS amt,
          ROUND(CAST(SUM(ss_net_profit) AS DOUBLE), 2) AS profit
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
        {household_demographics} household_demographics
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND (household_demographics.hd_dep_count = 8
          OR household_demographics.hd_vehicle_count > 3)
     AND date_dim.d_dow = 1
     AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, store.s_city) ms,
  {customer} customer
WHERE ss_customer_sk = c_customer_sk
ORDER BY c_last_name, c_first_name, city30, profit, ss_ticket_number, amt
LIMIT 100
""")

# q88 — eight half-hour traffic counters cross-joined (88.sql)
_tpcds("tpcds_q88", """
SELECT h8_30_to_9 AS c1, h9_to_9_30 AS c2, h9_30_to_10 AS c3,
       h10_to_10_30 AS c4
FROM
 (SELECT COUNT(*) AS h8_30_to_9
  FROM {store_sales} store_sales, {household_demographics} household_demographics,
       {time_dim} time_dim, {store} store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
    AND ((household_demographics.hd_dep_count = 4
          AND household_demographics.hd_vehicle_count <= 4 + 2)
         OR (household_demographics.hd_dep_count = 2
             AND household_demographics.hd_vehicle_count <= 2 + 2)
         OR (household_demographics.hd_dep_count = 0
             AND household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s1,
 (SELECT COUNT(*) AS h9_to_9_30
  FROM {store_sales} store_sales, {household_demographics} household_demographics,
       {time_dim} time_dim, {store} store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
    AND ((household_demographics.hd_dep_count = 4
          AND household_demographics.hd_vehicle_count <= 4 + 2)
         OR (household_demographics.hd_dep_count = 2
             AND household_demographics.hd_vehicle_count <= 2 + 2)
         OR (household_demographics.hd_dep_count = 0
             AND household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s2,
 (SELECT COUNT(*) AS h9_30_to_10
  FROM {store_sales} store_sales, {household_demographics} household_demographics,
       {time_dim} time_dim, {store} store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
    AND ((household_demographics.hd_dep_count = 4
          AND household_demographics.hd_vehicle_count <= 4 + 2)
         OR (household_demographics.hd_dep_count = 2
             AND household_demographics.hd_vehicle_count <= 2 + 2)
         OR (household_demographics.hd_dep_count = 0
             AND household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s3,
 (SELECT COUNT(*) AS h10_to_10_30
  FROM {store_sales} store_sales, {household_demographics} household_demographics,
       {time_dim} time_dim, {store} store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
    AND ((household_demographics.hd_dep_count = 4
          AND household_demographics.hd_vehicle_count <= 4 + 2)
         OR (household_demographics.hd_dep_count = 2
             AND household_demographics.hd_vehicle_count <= 2 + 2)
         OR (household_demographics.hd_dep_count = 0
             AND household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s4
""")

# q89 — rolling average over item/store months via a window (89.sql)
_tpcds("tpcds_q89", """
SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
       sum_sales, avg_monthly_sales
FROM
  (SELECT i_category, i_class, i_brand, s_store_name,
          'company#1' AS s_company_name, d_moy,
          ROUND(CAST(SUM(ss_sales_price) AS DOUBLE), 2) AS sum_sales,
          CAST(ROUND(CAST(AVG(SUM(ss_sales_price)) OVER (
              PARTITION BY i_category, i_brand, s_store_name
          ) AS DECIMAL(20,6)), 2) AS DOUBLE) AS avg_monthly_sales
   FROM {item} item, {store_sales} store_sales, {date_dim} date_dim,
        {store} store
   WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk AND d_year = 1999
     AND i_category IN ('category#1', 'category#2', 'category#3')
     AND i_class IN ('class#1', 'class#2', 'class#3')
   GROUP BY i_category, i_class, i_brand, s_store_name, d_moy) tmp1
WHERE avg_monthly_sales <> 0
  AND ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name, i_category, i_class,
         i_brand, d_moy
LIMIT 100
""")


# ---- round-5 second expansion: 15 more queries over the v3 fixture ----
# Same adaptation protocol: constants mapped into the fixture's value
# cycles, aggregates aliased + rounded doubles, tie-breakers appended.

# q06 — state rollup gated on a month-seq scalar subquery and a
# category-average price comparison (06.sql)
_tpcds("tpcds_q06", """
SELECT a.ca_state AS state, COUNT(*) AS cnt
FROM {customer_address} a, {customer} c, {store_sales} s,
     {date_dim} d, {item} i
WHERE a.ca_address_sk = c.c_current_addr_sk
  AND c.c_customer_sk = s.ss_customer_sk
  AND s.ss_sold_date_sk = d.d_date_sk
  AND s.ss_item_sk = i.i_item_sk
  AND d.d_month_seq =
    (SELECT DISTINCT (d_month_seq) FROM {date_dim} date_dim
     WHERE d_year = 2001 AND d_moy = 1)
  AND i.i_current_price > 1.2 *
    (SELECT ROUND(CAST(AVG(j.i_current_price) AS DOUBLE), 6)
     FROM {item} j WHERE j.i_category = i.i_category)
GROUP BY a.ca_state
HAVING COUNT(*) >= 10
ORDER BY cnt NULLS FIRST, a.ca_state NULLS FIRST
LIMIT 100
""")

# q13 — three-way OR of demographic bands × three-way OR of address bands
# (13.sql; state lists and net-profit bands mapped to the fixture cycles)
_tpcds("tpcds_q13", """
SELECT ROUND(CAST(AVG(ss_quantity) AS DOUBLE), 2) AS avg1,
       ROUND(CAST(AVG(ss_ext_sales_price) AS DOUBLE), 2) AS avg2,
       ROUND(CAST(AVG(ss_ext_wholesale_cost) AS DOUBLE), 2) AS avg3,
       ROUND(CAST(SUM(ss_ext_wholesale_cost) AS DOUBLE), 2) AS sum4
FROM {store_sales} store_sales, {store} store,
     {customer_demographics} customer_demographics,
     {household_demographics} household_demographics,
     {customer_address} customer_address, {date_dim} date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_year = 2001
  AND ((ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M' AND cd_education_status = 'Advanced Degree'
        AND ss_sales_price BETWEEN 50.00 AND 80.00 AND hd_dep_count = 3)
       OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'S' AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 20.00 AND 50.00 AND hd_dep_count = 1)
       OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 60.00 AND 81.00 AND hd_dep_count = 1))
  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        AND ca_state IN ('TN', 'OH', 'KY') AND ss_net_profit BETWEEN 0 AND 100)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('GA', 'AL', 'VA') AND ss_net_profit BETWEEN -50 AND 50)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('NC', 'SC', 'TN') AND ss_net_profit BETWEEN -100 AND 0))
""")

# q17 — quantity statistics across the ss→sr→cs chain over three date
# roles (17.sql; stddev/cov rounded for the hash compare)
_tpcds("tpcds_q17", """
SELECT i_item_id, i_item_desc, s_state,
       COUNT(ss_quantity) AS ss_qty_count,
       ROUND(CAST(AVG(ss_quantity) AS DOUBLE), 2) AS ss_qty_avg,
       ROUND(CAST(STDDEV_SAMP(ss_quantity) AS DOUBLE), 2) AS ss_qty_stdev,
       ROUND(CAST(STDDEV_SAMP(ss_quantity) / AVG(ss_quantity) AS DOUBLE), 2)
           AS ss_qty_cov,
       COUNT(sr_return_quantity) AS sr_qty_count,
       ROUND(CAST(AVG(sr_return_quantity) AS DOUBLE), 2) AS sr_qty_avg,
       ROUND(CAST(STDDEV_SAMP(sr_return_quantity) AS DOUBLE), 2) AS sr_qty_stdev,
       ROUND(CAST(STDDEV_SAMP(sr_return_quantity) / AVG(sr_return_quantity)
             AS DOUBLE), 2) AS sr_qty_cov,
       COUNT(cs_quantity) AS cs_qty_count,
       ROUND(CAST(AVG(cs_quantity) AS DOUBLE), 2) AS cs_qty_avg,
       ROUND(CAST(STDDEV_SAMP(cs_quantity) AS DOUBLE), 2) AS cs_qty_stdev,
       ROUND(CAST(STDDEV_SAMP(cs_quantity) / AVG(cs_quantity) AS DOUBLE), 2)
           AS cs_qty_cov
FROM {store_sales} store_sales, {store_returns} store_returns,
     {catalog_sales} catalog_sales, {date_dim} d1, {date_dim} d2,
     {date_dim} d3, {store} store, {item} item
WHERE d1.d_quarter_name = '2001Q1'
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
GROUP BY i_item_id, i_item_desc, s_state
ORDER BY i_item_id NULLS FIRST, i_item_desc NULLS FIRST, s_state NULLS FIRST
LIMIT 100
""")

# q27 — demographic item/state rollup via UNION ALL grouping levels
# (27.sql; the reference spells ROLLUP as explicit UNION ALL branches)
_tpcds("tpcds_q27", """
WITH results AS
  (SELECT i_item_id, s_state, ss_quantity AS agg1, ss_list_price AS agg2,
          ss_coupon_amt AS agg3, ss_sales_price AS agg4
   FROM {store_sales} store_sales, {customer_demographics} customer_demographics,
        {date_dim} date_dim, {store} store, {item} item
   WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
     AND ss_store_sk = s_store_sk AND ss_cdemo_sk = cd_demo_sk
     AND cd_gender = 'M' AND cd_marital_status = 'S'
     AND cd_education_status = 'College'
     AND d_year = 2002 AND s_state = 'TN')
SELECT i_item_id, s_state, g_state, agg1, agg2, agg3, agg4
FROM
  (SELECT i_item_id, s_state, 0 AS g_state,
          ROUND(CAST(AVG(agg1) AS DOUBLE), 2) AS agg1,
          ROUND(CAST(AVG(agg2) AS DOUBLE), 2) AS agg2,
          ROUND(CAST(AVG(agg3) AS DOUBLE), 2) AS agg3,
          ROUND(CAST(AVG(agg4) AS DOUBLE), 2) AS agg4
   FROM results GROUP BY i_item_id, s_state
   UNION ALL
   SELECT i_item_id, NULL AS s_state, 1 AS g_state,
          ROUND(CAST(AVG(agg1) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg2) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg3) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg4) AS DOUBLE), 2)
   FROM results GROUP BY i_item_id
   UNION ALL
   SELECT NULL AS i_item_id, NULL AS s_state, 1 AS g_state,
          ROUND(CAST(AVG(agg1) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg2) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg3) AS DOUBLE), 2),
          ROUND(CAST(AVG(agg4) AS DOUBLE), 2)
   FROM results) foo
ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
LIMIT 100
""")

# q28 — six quantity-band aggregate triples cross-joined (28.sql; price/
# coupon/wholesale bands mapped to the fixture's value ranges)
_tpcds("tpcds_q28", """
SELECT *
FROM
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B1_LP,
          COUNT(ss_list_price) AS B1_CNT,
          COUNT(DISTINCT ss_list_price) AS B1_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 0 AND 5
     AND (ss_list_price BETWEEN 8 AND 18
          OR ss_coupon_amt BETWEEN 10 AND 20
          OR ss_wholesale_cost BETWEEN 57 AND 77)) B1,
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B2_LP,
          COUNT(ss_list_price) AS B2_CNT,
          COUNT(DISTINCT ss_list_price) AS B2_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 6 AND 10
     AND (ss_list_price BETWEEN 80 AND 90
          OR ss_coupon_amt BETWEEN 12 AND 22
          OR ss_wholesale_cost BETWEEN 31 AND 51)) B2,
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B3_LP,
          COUNT(ss_list_price) AS B3_CNT,
          COUNT(DISTINCT ss_list_price) AS B3_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 11 AND 15
     AND (ss_list_price BETWEEN 70 AND 80
          OR ss_coupon_amt BETWEEN 5 AND 15
          OR ss_wholesale_cost BETWEEN 79 AND 90)) B3,
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B4_LP,
          COUNT(ss_list_price) AS B4_CNT,
          COUNT(DISTINCT ss_list_price) AS B4_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 16 AND 20
     AND (ss_list_price BETWEEN 65 AND 75
          OR ss_coupon_amt BETWEEN 6 AND 16
          OR ss_wholesale_cost BETWEEN 38 AND 58)) B4,
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B5_LP,
          COUNT(ss_list_price) AS B5_CNT,
          COUNT(DISTINCT ss_list_price) AS B5_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 21 AND 25
     AND (ss_list_price BETWEEN 60 AND 70
          OR ss_coupon_amt BETWEEN 8 AND 18
          OR ss_wholesale_cost BETWEEN 17 AND 37)) B5,
  (SELECT ROUND(CAST(AVG(ss_list_price) AS DOUBLE), 2) AS B6_LP,
          COUNT(ss_list_price) AS B6_CNT,
          COUNT(DISTINCT ss_list_price) AS B6_CNTD
   FROM {store_sales} store_sales
   WHERE ss_quantity BETWEEN 26 AND 30
     AND (ss_list_price BETWEEN 55 AND 65
          OR ss_coupon_amt BETWEEN 9 AND 19
          OR ss_wholesale_cost BETWEEN 7 AND 27)) B6
LIMIT 100
""")

# q36 — gross-margin hierarchy levels + rank within parent (36.sql;
# UNION-spelled rollup, window on top)
_tpcds("tpcds_q36", """
WITH results AS
  (SELECT CAST(SUM(ss_net_profit) AS DOUBLE) AS ss_net_profit,
          CAST(SUM(ss_ext_sales_price) AS DOUBLE) AS ss_ext_sales_price,
          CAST(SUM(ss_net_profit) AS DOUBLE) /
              CAST(SUM(ss_ext_sales_price) AS DOUBLE) AS gross_margin,
          i_category, i_class, 0 AS g_category, 0 AS g_class
   FROM {store_sales} store_sales, {date_dim} d1, {item} item, {store} store
   WHERE d1.d_year = 2001
     AND d1.d_date_sk = ss_sold_date_sk
     AND i_item_sk = ss_item_sk
     AND s_store_sk = ss_store_sk
     AND s_state = 'TN'
   GROUP BY i_category, i_class),
results_rollup AS
  (SELECT gross_margin, i_category, i_class, 0 AS t_category, 0 AS t_class,
          0 AS lochierarchy
   FROM results
   UNION
   SELECT SUM(ss_net_profit) / SUM(ss_ext_sales_price) AS gross_margin,
          i_category, NULL AS i_class, 0 AS t_category, 1 AS t_class,
          1 AS lochierarchy
   FROM results GROUP BY i_category
   UNION
   SELECT SUM(ss_net_profit) / SUM(ss_ext_sales_price) AS gross_margin,
          NULL AS i_category, NULL AS i_class, 1 AS t_category, 1 AS t_class,
          2 AS lochierarchy
   FROM results)
SELECT ROUND(CAST(gross_margin AS DOUBLE), 4) + 0.0 AS gross_margin,
       i_category, i_class, lochierarchy,
       RANK() OVER (PARTITION BY lochierarchy,
                    CASE WHEN t_class = 0 THEN i_category END
                    ORDER BY gross_margin ASC) AS rank_within_parent
FROM results_rollup
ORDER BY lochierarchy DESC NULLS FIRST,
         CASE WHEN lochierarchy = 0 THEN i_category END NULLS FIRST,
         rank_within_parent NULLS FIRST, i_category NULLS FIRST,
         i_class NULLS FIRST
LIMIT 100
""")

# q41 — correlated count over item attribute combinations (41.sql;
# manufact band and color/units/size constants mapped to fixture cycles)
_tpcds("tpcds_q41", """
SELECT DISTINCT (i_product_name) AS i_product_name
FROM {item} i1
WHERE i_manufact_id BETWEEN 100 AND 140
  AND (SELECT COUNT(*) AS item_cnt
       FROM {item} item
       WHERE (item.i_manufact = i1.i_manufact
              AND ((item.i_category = 'category#1'
                    AND (item.i_color = 'powder' OR item.i_color = 'khaki')
                    AND (item.i_units = 'Ounce' OR item.i_units = 'Oz')
                    AND (item.i_size = 'medium' OR item.i_size = 'extra large'))
                   OR (item.i_category = 'category#1'
                       AND (item.i_color = 'brown' OR item.i_color = 'honeydew')
                       AND (item.i_units = 'Bunch' OR item.i_units = 'Ton')
                       AND (item.i_size = 'N/A' OR item.i_size = 'small'))
                   OR (item.i_category = 'category#2'
                       AND (item.i_color = 'floral' OR item.i_color = 'deep')
                       AND (item.i_units = 'N/A' OR item.i_units = 'Dozen')
                       AND (item.i_size = 'petite' OR item.i_size = 'large'))
                   OR (item.i_category = 'category#2'
                       AND (item.i_color = 'light' OR item.i_color = 'cornflower')
                       AND (item.i_units = 'Box' OR item.i_units = 'Pound')
                       AND (item.i_size = 'medium' OR item.i_size = 'extra large'))))
          OR (item.i_manufact = i1.i_manufact
              AND ((item.i_category = 'category#1'
                    AND (item.i_color = 'midnight' OR item.i_color = 'snow')
                    AND (item.i_units = 'Pallet' OR item.i_units = 'Gross')
                    AND (item.i_size = 'medium' OR item.i_size = 'extra large'))
                   OR (item.i_category = 'category#1'
                       AND (item.i_color = 'cyan' OR item.i_color = 'papaya')
                       AND (item.i_units = 'Cup' OR item.i_units = 'Dram')
                       AND (item.i_size = 'N/A' OR item.i_size = 'small'))
                   OR (item.i_category = 'category#2'
                       AND (item.i_color = 'orange' OR item.i_color = 'frosted')
                       AND (item.i_units = 'Each' OR item.i_units = 'Tbl')
                       AND (item.i_size = 'petite' OR item.i_size = 'large'))
                   OR (item.i_category = 'category#2'
                       AND (item.i_color = 'forest' OR item.i_color = 'ghost')
                       AND (item.i_units = 'Lb' OR item.i_units = 'Bundle')
                       AND (item.i_size = 'medium' OR item.i_size = 'extra large'))))) > 0
ORDER BY i_product_name
LIMIT 100
""")

# q43 — day-of-week pivot per store (43.sql)
_tpcds("tpcds_q43", """
SELECT s_store_name, s_store_id,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS sun_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS mon_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS tue_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS wed_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS thu_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS fri_sales,
       ROUND(CAST(SUM(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price
                           ELSE NULL END) AS DOUBLE), 2) AS sat_sales
FROM {date_dim} date_dim, {store_sales} store_sales, {store} store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_gmt_offset = -5
  AND d_year = 2000
GROUP BY s_store_name, s_store_id
ORDER BY s_store_name, s_store_id, sun_sales, mon_sales, tue_sales,
         wed_sales, thu_sales, fri_sales, sat_sales
LIMIT 100
""")

# q50 — return-lag day buckets per store (50.sql; the fixture's fixed
# 45-day return lag lands rows in the 31-60 bucket by construction)
_tpcds("tpcds_q50", """
SELECT s_store_name, s_company_id, s_street_number, s_street_name,
       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
       CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk <= 30)
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 30)
                AND (sr_returned_date_sk - ss_sold_date_sk <= 60)
                THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 60)
                AND (sr_returned_date_sk - ss_sold_date_sk <= 90)
                THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 90)
                AND (sr_returned_date_sk - ss_sold_date_sk <= 120)
                THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(SUM(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 120)
                THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
FROM {store_sales} store_sales, {store_returns} store_returns,
     {store} store, {date_dim} d1, {date_dim} d2
WHERE d2.d_year = 2001
  AND d2.d_moy = 8
  AND ss_ticket_number = sr_ticket_number
  AND ss_item_sk = sr_item_sk
  AND ss_sold_date_sk = d1.d_date_sk
  AND sr_returned_date_sk = d2.d_date_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_store_sk = s_store_sk
GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
LIMIT 100
""")

# q52 — brand revenue for one manager-month (52.sql)
_tpcds("tpcds_q52", """
SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS ext_price
FROM {date_dim} dt, {store_sales} store_sales, {item} item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 2000
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, ext_price DESC, brand_id
LIMIT 100
""")

# q53 — quarterly manufacturer sales vs windowed average (53.sql;
# category/class/brand lists mapped to fixture cycles)
_tpcds("tpcds_q53", """
SELECT i_manufact_id, sum_sales, avg_quarterly_sales
FROM
  (SELECT i_manufact_id,
          ROUND(CAST(SUM(ss_sales_price) AS DOUBLE), 2) AS sum_sales,
          CAST(ROUND(CAST(AVG(SUM(ss_sales_price)) OVER (
              PARTITION BY i_manufact_id) AS DECIMAL(20,6)), 2) AS DOUBLE)
              AS avg_quarterly_sales
   FROM {item} item, {store_sales} store_sales, {date_dim} date_dim,
        {store} store
   WHERE ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND d_month_seq IN (1200, 1201, 1202, 1203, 1204, 1205, 1206, 1207,
                         1208, 1209, 1210, 1211)
     AND ((i_category IN ('category#1', 'category#2', 'category#3')
           AND i_class IN ('class#1', 'class#2', 'class#3', 'class#4'))
          OR (i_category IN ('category#4', 'category#5', 'category#6')
              AND i_class IN ('class#5', 'class#6', 'class#7', 'class#8')))
   GROUP BY i_manufact_id, d_qoy) tmp1
WHERE CASE WHEN avg_quarterly_sales > 0
           THEN ABS(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
           ELSE NULL END > 0.1
ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id
LIMIT 100
""")

# q63 — monthly manager sales vs windowed average (63.sql)
_tpcds("tpcds_q63", """
SELECT i_manager_id, sum_sales, avg_monthly_sales
FROM
  (SELECT i_manager_id,
          ROUND(CAST(SUM(ss_sales_price) AS DOUBLE), 2) AS sum_sales,
          CAST(ROUND(CAST(AVG(SUM(ss_sales_price)) OVER (
              PARTITION BY i_manager_id) AS DECIMAL(20,6)), 2) AS DOUBLE)
              AS avg_monthly_sales
   FROM {item} item, {store_sales} store_sales, {date_dim} date_dim,
        {store} store
   WHERE ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND d_month_seq IN (1200, 1201, 1202, 1203, 1204, 1205, 1206, 1207,
                         1208, 1209, 1210, 1211)
     AND ((i_category IN ('category#1', 'category#2', 'category#3')
           AND i_class IN ('class#1', 'class#2', 'class#3', 'class#4'))
          OR (i_category IN ('category#4', 'category#5', 'category#6')
              AND i_class IN ('class#5', 'class#6', 'class#7', 'class#8')))
   GROUP BY i_manager_id, d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY i_manager_id, avg_monthly_sales, sum_sales
LIMIT 100
""")

# q65 — under-performing item/store revenue vs 10% of store average
# (65.sql)
_tpcds("tpcds_q65", """
SELECT s_store_name, i_item_desc, sc.revenue,
       -- raw DECIMAL(7,2) output hashes as Decimal('23.70') on Spark vs
       -- float 23.7 on DuckDB's pandas path (driver hash bug, VERDICT r07
       -- item 1) — pin every decimal output column to DOUBLE
       CAST(i_current_price AS DOUBLE) AS i_current_price,
       CAST(i_wholesale_cost AS DOUBLE) AS i_wholesale_cost, i_brand
FROM {store} store, {item} item,
  (SELECT ss_store_sk, AVGR(revenue) AS ave
   FROM
     (SELECT ss_store_sk, ss_item_sk,
             ROUND(CAST(SUM(ss_sales_price) AS DOUBLE), 2) AS revenue
      FROM {store_sales} store_sales, {date_dim} date_dim
      WHERE ss_sold_date_sk = d_date_sk
        AND d_month_seq BETWEEN 1176 AND 1187
      GROUP BY ss_store_sk, ss_item_sk) sa
   GROUP BY ss_store_sk) sb,
  (SELECT ss_store_sk, ss_item_sk,
          ROUND(CAST(SUM(ss_sales_price) AS DOUBLE), 2) AS revenue
   FROM {store_sales} store_sales, {date_dim} date_dim
   WHERE ss_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 1176 AND 1187
   GROUP BY ss_store_sk, ss_item_sk) sc
WHERE sb.ss_store_sk = sc.ss_store_sk
  -- reference threshold is 0.1; the fixture's uniform price cycle never
  -- dips below ~15% of the store average, so 0.5 keeps the band-join
  -- shape AND a non-empty differential
  AND sc.revenue <= 0.5 * sb.ave
  AND s_store_sk = sc.ss_store_sk
  AND i_item_sk = sc.ss_item_sk
ORDER BY s_store_name NULLS FIRST, i_item_desc NULLS FIRST,
         sc.revenue NULLS FIRST, i_brand NULLS FIRST
LIMIT 100
""")

# q93 — actual sales net of returns for one return reason (93.sql)
_tpcds("tpcds_q93", """
SELECT ss_customer_sk, ROUND(CAST(SUM(act_sales) AS DOUBLE), 2) AS sumsales
FROM
  (SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
          CASE WHEN sr_return_quantity IS NOT NULL
               THEN (ss_quantity - sr_return_quantity) * ss_sales_price
               ELSE (ss_quantity * ss_sales_price) END AS act_sales
   FROM {store_sales} store_sales
   LEFT OUTER JOIN {store_returns} store_returns
     ON (sr_item_sk = ss_item_sk AND sr_ticket_number = ss_ticket_number),
   {reason} reason
   WHERE sr_reason_sk = r_reason_sk
     AND r_reason_desc = 'reason 28') t
GROUP BY ss_customer_sk
ORDER BY sumsales NULLS FIRST, ss_customer_sk NULLS FIRST
LIMIT 100
""")

# q98 — item revenue with class-partitioned ratio window (98.sql)
_tpcds("tpcds_q98", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       CAST(i_current_price AS DOUBLE) AS i_current_price,
       ROUND(CAST(SUM(ss_ext_sales_price) AS DOUBLE), 2) AS itemrevenue,
       CAST(ROUND(CAST(
             CAST(SUM(ss_ext_sales_price) AS DOUBLE) * 100.0 /
             CAST(SUM(SUM(ss_ext_sales_price)) OVER (PARTITION BY i_class)
                  AS DOUBLE)
             AS DECIMAL(20,8)), 4) AS DOUBLE) AS revenueratio
FROM {store_sales} store_sales, {item} item, {date_dim} date_dim
WHERE ss_item_sk = i_item_sk
  AND i_category IN ('category#4', 'category#5', 'category#6')
  AND ss_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE) AND CAST('1999-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST,
         i_item_id NULLS FIRST, i_item_desc NULLS FIRST,
         revenueratio NULLS FIRST
""")


# ---- round-6 expansion: full-channel schema (web/catalog returns chains,
# inventory, warehouse/ship_mode/call_center/web_page/web_site/income_band)

# q2 — web+catalog weekly sales ratios across years (02.sql)
_tpcds("tpcds_q02", """
WITH wscs AS
  (SELECT sold_date_sk, sales_price
   FROM (SELECT ws_sold_date_sk AS sold_date_sk,
                ws_ext_sales_price AS sales_price FROM {web_sales} web_sales
         UNION ALL
         SELECT cs_sold_date_sk, cs_ext_sales_price
         FROM {catalog_sales} catalog_sales) sq1),
wswscs AS
  (SELECT d_week_seq,
          SUM(CASE WHEN d_day_name = 'Sunday' THEN sales_price END) AS sun_sales,
          SUM(CASE WHEN d_day_name = 'Monday' THEN sales_price END) AS mon_sales,
          SUM(CASE WHEN d_day_name = 'Tuesday' THEN sales_price END) AS tue_sales,
          SUM(CASE WHEN d_day_name = 'Wednesday' THEN sales_price END) AS wed_sales,
          SUM(CASE WHEN d_day_name = 'Thursday' THEN sales_price END) AS thu_sales,
          SUM(CASE WHEN d_day_name = 'Friday' THEN sales_price END) AS fri_sales,
          SUM(CASE WHEN d_day_name = 'Saturday' THEN sales_price END) AS sat_sales
   FROM wscs, {date_dim} date_dim
   WHERE d_date_sk = sold_date_sk GROUP BY d_week_seq)
SELECT d_week_seq1,
       ROUND(CAST(sun_sales1 AS DOUBLE) / CAST(sun_sales2 AS DOUBLE), 4) AS r1,
       ROUND(CAST(mon_sales1 AS DOUBLE) / CAST(mon_sales2 AS DOUBLE), 4) AS r2,
       ROUND(CAST(tue_sales1 AS DOUBLE) / CAST(tue_sales2 AS DOUBLE), 4) AS r3,
       ROUND(CAST(wed_sales1 AS DOUBLE) / CAST(wed_sales2 AS DOUBLE), 4) AS r4,
       ROUND(CAST(thu_sales1 AS DOUBLE) / CAST(thu_sales2 AS DOUBLE), 4) AS r5,
       ROUND(CAST(fri_sales1 AS DOUBLE) / CAST(fri_sales2 AS DOUBLE), 4) AS r6,
       ROUND(CAST(sat_sales1 AS DOUBLE) / CAST(sat_sales2 AS DOUBLE), 4) AS r7
FROM
  (SELECT wswscs.d_week_seq AS d_week_seq1, sun_sales AS sun_sales1,
          mon_sales AS mon_sales1, tue_sales AS tue_sales1,
          wed_sales AS wed_sales1, thu_sales AS thu_sales1,
          fri_sales AS fri_sales1, sat_sales AS sat_sales1
   FROM wswscs, {date_dim} date_dim
   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2001) y,
  (SELECT wswscs.d_week_seq AS d_week_seq2, sun_sales AS sun_sales2,
          mon_sales AS mon_sales2, tue_sales AS tue_sales2,
          wed_sales AS wed_sales2, thu_sales AS thu_sales2,
          fri_sales AS fri_sales2, sat_sales AS sat_sales2
   FROM wswscs, {date_dim} date_dim
   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2002) z
WHERE d_week_seq1 = d_week_seq2 - 53
ORDER BY d_week_seq1
""")

# q9 — reason-driven bucketed conditional averages (09.sql)
_Q09_ORACLE = """
SELECT CASE WHEN (SELECT COUNT(*) FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) > 24000
            THEN (SELECT ROUND(CAST(AVG(ss_ext_discount_amt) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20)
            ELSE (SELECT ROUND(CAST(AVG(ss_net_paid) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) END AS bucket1,
       CASE WHEN (SELECT COUNT(*) FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) > 25000
            THEN (SELECT ROUND(CAST(AVG(ss_ext_discount_amt) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40)
            ELSE (SELECT ROUND(CAST(AVG(ss_net_paid) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) END AS bucket2,
       CASE WHEN (SELECT COUNT(*) FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 41 AND 60) > 23000
            THEN (SELECT ROUND(CAST(AVG(ss_ext_discount_amt) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 41 AND 60)
            ELSE (SELECT ROUND(CAST(AVG(ss_net_paid) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 41 AND 60) END AS bucket3,
       CASE WHEN (SELECT COUNT(*) FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 61 AND 80) > 23000
            THEN (SELECT ROUND(CAST(AVG(ss_ext_discount_amt) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 61 AND 80)
            ELSE (SELECT ROUND(CAST(AVG(ss_net_paid) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 61 AND 80) END AS bucket4,
       CASE WHEN (SELECT COUNT(*) FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 81 AND 100) > 23000
            THEN (SELECT ROUND(CAST(AVG(ss_ext_discount_amt) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 81 AND 100)
            ELSE (SELECT ROUND(CAST(AVG(ss_net_paid) AS DOUBLE), 2)
                  FROM {store_sales} store_sales
                  WHERE ss_quantity BETWEEN 81 AND 100) END AS bucket5
FROM {reason} reason
WHERE r_reason_sk = 1
"""

# Spark side of q09 (guide §2.4 / VERDICT r12 item 7): the reference text
# runs 15 scalar subqueries — 15 full store_sales scans. One FILTERed
# aggregate computes all 15 values in a SINGLE scan; CASE picks per bucket.
# Bit-safe: ss_ext_discount_amt / ss_net_paid are DECIMAL(7,2), so AVG is
# exact decimal arithmetic — conditional aggregation over one scan sums the
# same multiset as each filtered scan.
_Q09_RANGES = [(1, 20, 24000), (21, 40, 25000), (41, 60, 23000),
               (61, 80, 23000), (81, 100, 23000)]
_Q09_SPARK = (
    "SELECT "
    + ", ".join(
        f"CASE WHEN cnt{i} > {th} THEN d{i} ELSE p{i} END AS bucket{i}"
        for i, (_, _, th) in enumerate(_Q09_RANGES, 1)
    )
    + "\nFROM {reason} reason,\n  (SELECT "
    + ",\n    ".join(
        f"COUNT(*) FILTER (WHERE ss_quantity BETWEEN {lo} AND {hi}) AS cnt{i},\n    "
        f"ROUND(CAST(AVG(ss_ext_discount_amt) FILTER "
        f"(WHERE ss_quantity BETWEEN {lo} AND {hi}) AS DOUBLE), 2) AS d{i},\n    "
        f"ROUND(CAST(AVG(ss_net_paid) FILTER "
        f"(WHERE ss_quantity BETWEEN {lo} AND {hi}) AS DOUBLE), 2) AS p{i}"
        for i, (lo, hi, _) in enumerate(_Q09_RANGES, 1)
    )
    + "\n   FROM {store_sales} store_sales) agg\nWHERE r_reason_sk = 1"
)
_tpcds("tpcds_q09", _Q09_ORACLE, _Q09_SPARK)

# q12 — web item revenue with class-partitioned ratio window (12.sql)
_tpcds("tpcds_q12", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       CAST(i_current_price AS DOUBLE) AS i_current_price,
       ROUND(CAST(SUM(ws_ext_sales_price) AS DOUBLE), 2) AS itemrevenue,
       ROUND(CAST(SUM(ws_ext_sales_price) * 100.0000 /
             SUM(SUM(ws_ext_sales_price)) OVER (PARTITION BY i_class)
             AS DOUBLE), 4) AS revenueratio
FROM {web_sales} web_sales, {item} item, {date_dim} date_dim
WHERE ws_item_sk = i_item_sk
  AND i_category IN ('category#1', 'category#2', 'category#3')
  AND ws_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE) AND CAST('1999-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
LIMIT 100
""")

# q16 — shipped-order count with multi-warehouse EXISTS / returns NOT EXISTS
# (16.sql)
_tpcds("tpcds_q16", """
SELECT COUNT(DISTINCT cs_order_number) AS order_cnt,
       ROUND(CAST(SUM(cs_ext_ship_cost) AS DOUBLE), 2) AS total_shipping_cost,
       ROUND(CAST(SUM(cs_net_profit) AS DOUBLE), 2) AS total_net_profit
FROM {catalog_sales} cs1, {date_dim} date_dim,
     {customer_address} customer_address, {call_center} call_center
WHERE d_date BETWEEN '2002-02-01' AND CAST('2002-04-02' AS DATE)
  AND cs1.cs_ship_date_sk = d_date_sk
  AND cs1.cs_ship_addr_sk = ca_address_sk
  AND ca_state = 'GA'
  AND cs1.cs_call_center_sk = cc_call_center_sk
  AND cc_county = 'county#2'
  AND EXISTS (SELECT * FROM {catalog_sales} cs2
              WHERE cs1.cs_order_number = cs2.cs_order_number
                AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  AND NOT EXISTS (SELECT * FROM {catalog_returns} cr1
                  WHERE cs1.cs_order_number = cr1.cr_order_number)
""")

# q20 — catalog item revenue ratio window (20.sql)
_tpcds("tpcds_q20", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       CAST(i_current_price AS DOUBLE) AS i_current_price,
       ROUND(CAST(SUM(cs_ext_sales_price) AS DOUBLE), 2) AS itemrevenue,
       ROUND(CAST(SUM(cs_ext_sales_price) * 100.0000 /
             SUM(SUM(cs_ext_sales_price)) OVER (PARTITION BY i_class)
             AS DOUBLE), 4) AS revenueratio
FROM {catalog_sales} catalog_sales, {item} item, {date_dim} date_dim
WHERE cs_item_sk = i_item_sk
  AND i_category IN ('category#1', 'category#2', 'category#3')
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1999-02-22' AS DATE) AND CAST('1999-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
LIMIT 100
""")

# q21 — warehouse inventory before/after a date pivot (21.sql)
_tpcds("tpcds_q21", """
SELECT * FROM
  (SELECT w_warehouse_name, i_item_id,
          CAST(SUM(CASE WHEN CAST(d_date AS DATE)
                            < CAST('2000-03-11' AS DATE)
                   THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT)
              AS inv_before,
          CAST(SUM(CASE WHEN CAST(d_date AS DATE)
                            >= CAST('2000-03-11' AS DATE)
                   THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT)
              AS inv_after
   FROM {inventory} inventory, {warehouse} warehouse, {item} item,
        {date_dim} date_dim
   WHERE i_current_price BETWEEN 0.99 AND 1.49
     AND i_item_sk = inv_item_sk
     AND inv_warehouse_sk = w_warehouse_sk
     AND inv_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-02-10' AS DATE) AND CAST('2000-04-10' AS DATE)
   GROUP BY w_warehouse_name, i_item_id) x
WHERE (CASE WHEN inv_before > 0
            THEN CAST(inv_after AS DOUBLE) / inv_before ELSE NULL END)
      BETWEEN 2.000 / 3.000 AND 3.000 / 2.000
ORDER BY w_warehouse_name NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100
""")

# q30 — web-returns customers above 1.2x state average (30.sql)
_tpcds("tpcds_q30", """
WITH customer_total_return AS
  (SELECT wr_returning_customer_sk AS ctr_customer_sk,
          ca_state AS ctr_state,
          SUM(wr_return_amt) AS ctr_total_return
   FROM {web_returns} web_returns, {date_dim} date_dim,
        {customer_address} customer_address
   WHERE wr_returned_date_sk = d_date_sk AND d_year = 2002
     AND wr_returning_addr_sk = ca_address_sk
   GROUP BY wr_returning_customer_sk, ca_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
       c_birth_country, c_login, c_email_address, c_last_review_date_sk,
       ROUND(CAST(ctr_total_return AS DOUBLE), 2) AS ctr_total_return
FROM customer_total_return ctr1, {customer_address} customer_address,
     {customer} customer
WHERE ctr1.ctr_total_return >
    (SELECT AVG(ctr_total_return) * 1.2 FROM customer_total_return ctr2
     WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'GA'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id NULLS FIRST, ctr_total_return NULLS FIRST
LIMIT 100
""")

# q31 — county web/store quarter-over-quarter growth comparison (31.sql)
_tpcds("tpcds_q31", """
WITH ss AS MATERIALIZED
  (SELECT ca_county, d_qoy, d_year,
          SUM(ss_ext_sales_price) AS store_sales
   FROM {store_sales} store_sales, {date_dim} date_dim,
        {customer_address} customer_address
   WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
     AND d_year = 2000 AND d_qoy IN (1, 2, 3)
   GROUP BY ca_county, d_qoy, d_year),
ws AS MATERIALIZED
  (SELECT ca_county, d_qoy, d_year,
          SUM(ws_ext_sales_price) AS web_sales
   FROM {web_sales} web_sales, {date_dim} date_dim,
        {customer_address} customer_address
   WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
     AND d_year = 2000 AND d_qoy IN (1, 2, 3)
   GROUP BY ca_county, d_qoy, d_year)
SELECT ss1.ca_county, ss1.d_year,
       ROUND(CAST(ws2.web_sales AS DOUBLE) / CAST(ws1.web_sales AS DOUBLE), 4)
           AS web_q1_q2_increase,
       ROUND(CAST(ss2.store_sales AS DOUBLE) / CAST(ss1.store_sales AS DOUBLE), 4)
           AS store_q1_q2_increase,
       ROUND(CAST(ws3.web_sales AS DOUBLE) / CAST(ws2.web_sales AS DOUBLE), 4)
           AS web_q2_q3_increase,
       ROUND(CAST(ss3.store_sales AS DOUBLE) / CAST(ss2.store_sales AS DOUBLE), 4)
           AS store_q2_q3_increase
FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE ss1.d_qoy = 1 AND ss1.d_year = 2000
  AND ss1.ca_county = ss2.ca_county AND ss2.d_qoy = 2 AND ss2.d_year = 2000
  AND ss2.ca_county = ss3.ca_county AND ss3.d_qoy = 3 AND ss3.d_year = 2000
  AND ss1.ca_county = ws1.ca_county AND ws1.d_qoy = 1 AND ws1.d_year = 2000
  AND ws1.ca_county = ws2.ca_county AND ws2.d_qoy = 2 AND ws2.d_year = 2000
  AND ws1.ca_county = ws3.ca_county AND ws3.d_qoy = 3 AND ws3.d_year = 2000
  AND CASE WHEN ws1.web_sales > 0
           THEN CAST(ws2.web_sales AS DOUBLE) / CAST(ws1.web_sales AS DOUBLE)
           ELSE NULL END
      > CASE WHEN ss1.store_sales > 0
             THEN CAST(ss2.store_sales AS DOUBLE) / CAST(ss1.store_sales AS DOUBLE)
             ELSE NULL END
  AND CASE WHEN ws2.web_sales > 0
           THEN CAST(ws3.web_sales AS DOUBLE) / CAST(ws2.web_sales AS DOUBLE)
           ELSE NULL END
      > CASE WHEN ss2.store_sales > 0
             THEN CAST(ss3.store_sales AS DOUBLE) / CAST(ss2.store_sales AS DOUBLE)
             ELSE NULL END
ORDER BY ss1.ca_county
""")

# q32 — excess catalog discount vs 1.3x item average (32.sql)
_tpcds("tpcds_q32", """
SELECT ROUND(CAST(SUM(cs_ext_discount_amt) AS DOUBLE), 2)
           AS excess_discount_amount
FROM {catalog_sales} catalog_sales, {item} item, {date_dim} date_dim
WHERE i_manufact_id = 310
  AND i_item_sk = cs_item_sk
  AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
  AND d_date_sk = cs_sold_date_sk
  AND cs_ext_discount_amt >
    (SELECT 1.3 * AVG(cs_ext_discount_amt)
     FROM {catalog_sales} catalog_sales, {date_dim} date_dim
     WHERE cs_item_sk = i_item_sk
       AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
       AND d_date_sk = cs_sold_date_sk)
LIMIT 100
""")


# q37 — low-stock catalog items in a price/manufacturer slice (37.sql)
_tpcds("tpcds_q37", """
SELECT i_item_id, i_item_desc,
       CAST(i_current_price AS DOUBLE) AS i_current_price
FROM {item} item, {inventory} inventory, {date_dim} date_dim,
     {catalog_sales} catalog_sales
WHERE i_current_price BETWEEN 68 AND 68 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('2000-02-01' AS DATE) AND CAST('2000-04-01' AS DATE)
  AND i_manufact_id IN (127, 240, 394, 408)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND cs_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id, i_item_desc, i_current_price
LIMIT 100
""")

# q40 — warehouse sales before/after with returns netting (40.sql)
_tpcds("tpcds_q40", """
SELECT w_state, i_item_id,
       ROUND(CAST(SUM(CASE WHEN CAST(d_date AS DATE) < CAST('2000-03-11' AS DATE)
               THEN cs_sales_price - COALESCE(cr_refunded_cash, 0) ELSE 0 END)
             AS DOUBLE), 2) AS sales_before,
       ROUND(CAST(SUM(CASE WHEN CAST(d_date AS DATE) >= CAST('2000-03-11' AS DATE)
               THEN cs_sales_price - COALESCE(cr_refunded_cash, 0) ELSE 0 END)
             AS DOUBLE), 2) AS sales_after
FROM {catalog_sales} catalog_sales
LEFT OUTER JOIN {catalog_returns} catalog_returns
  ON (cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk),
  {warehouse} warehouse, {item} item, {date_dim} date_dim
WHERE i_current_price BETWEEN 0.99 AND 1.49
  AND i_item_sk = cs_item_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('2000-02-10' AS DATE) AND CAST('2000-04-10' AS DATE)
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100
""")

# q45 — web sales by zip with item-id OR-subquery (45.sql)
_tpcds("tpcds_q45", """
SELECT ca_zip, ca_city,
       ROUND(CAST(SUM(ws_sales_price) AS DOUBLE), 2) AS sum_ws_sales_price
FROM {web_sales} web_sales, {customer} customer,
     {customer_address} customer_address, {date_dim} date_dim, {item} item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (SUBSTRING(ca_zip, 1, 5) IN ('85250', '85551', '85852', '86153',
                                   '86454', '80133', '81036', '88260', '83745')
       OR i_item_id IN (SELECT i_item_id FROM {item} item
                        WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100
""")

# q46 — weekend coupon/profit by bought-vs-home city (46.sql)
_tpcds("tpcds_q46", """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       ROUND(CAST(amt AS DOUBLE), 2) AS amt,
       ROUND(CAST(profit AS DOUBLE), 2) AS profit
FROM
  (SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
          SUM(ss_coupon_amt) AS amt, SUM(ss_net_profit) AS profit
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
        {household_demographics} household_demographics,
        {customer_address} customer_address
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND store_sales.ss_addr_sk = customer_address.ca_address_sk
     AND (household_demographics.hd_dep_count = 4
          OR household_demographics.hd_vehicle_count = 3)
     AND date_dim.d_dow IN (6, 0)
     AND date_dim.d_year IN (1999, 2000, 2001)
     AND store.s_city IN ('Fairview', 'Midway')
   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
  {customer} customer, {customer_address} current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         ca_city NULLS FIRST, bought_city NULLS FIRST,
         ss_ticket_number NULLS FIRST, amt NULLS FIRST, profit NULLS FIRST
LIMIT 100
""")

# q47 — store monthly sales vs yearly average with lag/lead self-joins
# (47.sql)
_tpcds("tpcds_q47", """
WITH v1 AS MATERIALIZED
  (SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
          SUM(ss_sales_price) AS sum_sales,
          AVG(SUM(ss_sales_price)) OVER (PARTITION BY i_category, i_brand,
              s_store_name, s_company_name, d_year) AS avg_monthly_sales,
          RANK() OVER (PARTITION BY i_category, i_brand, s_store_name,
              s_company_name ORDER BY d_year, d_moy) AS rn
   FROM {item} item, {store_sales} store_sales, {date_dim} date_dim,
        {store} store
   WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND (d_year = 1999 OR (d_year = 1998 AND d_moy = 12)
          OR (d_year = 2000 AND d_moy = 1))
   GROUP BY i_category, i_brand, s_store_name, s_company_name, d_year, d_moy),
v2 AS
  (SELECT v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
          v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
          v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
   FROM v1, v1 v1_lag, v1 v1_lead
   WHERE v1.i_category = v1_lag.i_category
     AND v1.i_category = v1_lead.i_category
     AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
     AND v1.s_store_name = v1_lag.s_store_name
     AND v1.s_store_name = v1_lead.s_store_name
     AND v1.s_company_name = v1_lag.s_company_name
     AND v1.s_company_name = v1_lead.s_company_name
     AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1)
SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
       CAST(ROUND(CAST(avg_monthly_sales AS DECIMAL(20,6)), 2) AS DOUBLE)
           AS avg_monthly_sales,
       ROUND(CAST(sum_sales AS DOUBLE), 2) AS sum_sales,
       ROUND(CAST(psum AS DOUBLE), 2) AS psum,
       ROUND(CAST(nsum AS DOUBLE), 2) AS nsum
FROM v2
WHERE d_year = 1999 AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY ROUND(CAST(sum_sales - avg_monthly_sales AS DOUBLE), 2),
         1, 2, 3, 4, 5, 6, 7, 8, 9, 10
LIMIT 100
""")

# q51 — web-vs-store cumulative sales crossover via FULL OUTER JOIN (51.sql)
_tpcds("tpcds_q51", """
WITH web_v1 AS
  (SELECT ws_item_sk AS item_sk, d_date,
          SUM(SUM(ws_sales_price)) OVER (PARTITION BY ws_item_sk
              ORDER BY d_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cume_sales
   FROM {web_sales} web_sales, {date_dim} date_dim
   WHERE ws_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 1200 AND 1211 AND ws_item_sk IS NOT NULL
   GROUP BY ws_item_sk, d_date),
store_v1 AS
  (SELECT ss_item_sk AS item_sk, d_date,
          SUM(SUM(ss_sales_price)) OVER (PARTITION BY ss_item_sk
              ORDER BY d_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cume_sales
   FROM {store_sales} store_sales, {date_dim} date_dim
   WHERE ss_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 1200 AND 1211 AND ss_item_sk IS NOT NULL
   GROUP BY ss_item_sk, d_date)
SELECT item_sk, d_date,
       ROUND(CAST(web_sales AS DOUBLE), 2) AS web_sales,
       ROUND(CAST(store_sales AS DOUBLE), 2) AS store_sales,
       ROUND(CAST(web_cumulative AS DOUBLE), 2) AS web_cumulative,
       ROUND(CAST(store_cumulative AS DOUBLE), 2) AS store_cumulative
FROM
  (SELECT item_sk, d_date, web_sales, store_sales,
          MAX(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS web_cumulative,
          MAX(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS store_cumulative
   FROM
     (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
                  ELSE store.item_sk END AS item_sk,
             CASE WHEN web.d_date IS NOT NULL THEN web.d_date
                  ELSE store.d_date END AS d_date,
             web.cume_sales AS web_sales,
             store.cume_sales AS store_sales
      FROM web_v1 web
      FULL OUTER JOIN store_v1 store
        ON (web.item_sk = store.item_sk AND web.d_date = store.d_date)) x) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk NULLS FIRST, d_date NULLS FIRST
LIMIT 100
""")

# q57 — catalog/call-center monthly deviation (q47's catalog twin, 57.sql)
_tpcds("tpcds_q57", """
WITH v1 AS MATERIALIZED
  (SELECT i_category, i_brand, cc_name, d_year, d_moy,
          SUM(cs_sales_price) AS sum_sales,
          AVG(SUM(cs_sales_price)) OVER (PARTITION BY i_category, i_brand,
              cc_name, d_year) AS avg_monthly_sales,
          RANK() OVER (PARTITION BY i_category, i_brand, cc_name
              ORDER BY d_year, d_moy) AS rn
   FROM {item} item, {catalog_sales} catalog_sales, {date_dim} date_dim,
        {call_center} call_center
   WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
     AND cc_call_center_sk = cs_call_center_sk
     AND (d_year = 1999 OR (d_year = 1998 AND d_moy = 12)
          OR (d_year = 2000 AND d_moy = 1))
   GROUP BY i_category, i_brand, cc_name, d_year, d_moy),
v2 AS
  (SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
          v1.avg_monthly_sales, v1.sum_sales,
          v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
   FROM v1, v1 v1_lag, v1 v1_lead
   WHERE v1.i_category = v1_lag.i_category
     AND v1.i_category = v1_lead.i_category
     AND v1.i_brand = v1_lag.i_brand AND v1.i_brand = v1_lead.i_brand
     AND v1.cc_name = v1_lag.cc_name AND v1.cc_name = v1_lead.cc_name
     AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1)
SELECT i_category, i_brand, cc_name, d_year, d_moy,
       CAST(ROUND(CAST(avg_monthly_sales AS DECIMAL(20,6)), 2) AS DOUBLE)
           AS avg_monthly_sales,
       ROUND(CAST(sum_sales AS DOUBLE), 2) AS sum_sales,
       ROUND(CAST(psum AS DOUBLE), 2) AS psum,
       ROUND(CAST(nsum AS DOUBLE), 2) AS nsum
FROM v2
WHERE d_year = 1999 AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY ROUND(CAST(sum_sales - avg_monthly_sales AS DOUBLE), 2),
         1, 2, 3, 4, 5, 6, 7, 8, 9
LIMIT 100
""")

# q59 — store weekly sales year-over-year ratios (59.sql)
_tpcds("tpcds_q59", """
WITH wss AS
  (SELECT d_week_seq, ss_store_sk,
          SUM(CASE WHEN d_day_name = 'Sunday' THEN ss_sales_price END) AS sun_sales,
          SUM(CASE WHEN d_day_name = 'Monday' THEN ss_sales_price END) AS mon_sales,
          SUM(CASE WHEN d_day_name = 'Tuesday' THEN ss_sales_price END) AS tue_sales,
          SUM(CASE WHEN d_day_name = 'Wednesday' THEN ss_sales_price END) AS wed_sales,
          SUM(CASE WHEN d_day_name = 'Thursday' THEN ss_sales_price END) AS thu_sales,
          SUM(CASE WHEN d_day_name = 'Friday' THEN ss_sales_price END) AS fri_sales,
          SUM(CASE WHEN d_day_name = 'Saturday' THEN ss_sales_price END) AS sat_sales
   FROM {store_sales} store_sales, {date_dim} date_dim
   WHERE d_date_sk = ss_sold_date_sk
   GROUP BY d_week_seq, ss_store_sk)
SELECT s_store_name1, s_store_id1, d_week_seq1,
       ROUND(CAST(sun_sales1 AS DOUBLE) / CAST(sun_sales2 AS DOUBLE), 4) AS sun_sales_ratio,
       ROUND(CAST(mon_sales1 AS DOUBLE) / CAST(mon_sales2 AS DOUBLE), 4) AS mon_sales_ratio,
       ROUND(CAST(tue_sales1 AS DOUBLE) / CAST(tue_sales2 AS DOUBLE), 4) AS tue_sales_ratio,
       ROUND(CAST(wed_sales1 AS DOUBLE) / CAST(wed_sales2 AS DOUBLE), 4) AS wed_sales_ratio,
       ROUND(CAST(thu_sales1 AS DOUBLE) / CAST(thu_sales2 AS DOUBLE), 4) AS thu_sales_ratio,
       ROUND(CAST(fri_sales1 AS DOUBLE) / CAST(fri_sales2 AS DOUBLE), 4) AS fri_sales_ratio,
       ROUND(CAST(sat_sales1 AS DOUBLE) / CAST(sat_sales2 AS DOUBLE), 4) AS sat_sales_ratio
FROM
  (SELECT s_store_name AS s_store_name1, wss.d_week_seq AS d_week_seq1,
          s_store_id AS s_store_id1, sun_sales AS sun_sales1,
          mon_sales AS mon_sales1, tue_sales AS tue_sales1,
          wed_sales AS wed_sales1, thu_sales AS thu_sales1,
          fri_sales AS fri_sales1, sat_sales AS sat_sales1
   FROM wss, {store} store, {date_dim} d
   WHERE d.d_week_seq = wss.d_week_seq AND ss_store_sk = s_store_sk
     AND d_month_seq BETWEEN 1212 AND 1223) y,
  (SELECT s_store_name AS s_store_name2, wss.d_week_seq AS d_week_seq2,
          s_store_id AS s_store_id2, sun_sales AS sun_sales2,
          mon_sales AS mon_sales2, tue_sales AS tue_sales2,
          wed_sales AS wed_sales2, thu_sales AS thu_sales2,
          fri_sales AS fri_sales2, sat_sales AS sat_sales2
   FROM wss, {store} store, {date_dim} d
   WHERE d.d_week_seq = wss.d_week_seq AND ss_store_sk = s_store_sk
     AND d_month_seq BETWEEN 1224 AND 1235) x
WHERE s_store_id1 = s_store_id2 AND d_week_seq1 = d_week_seq2 - 52
ORDER BY s_store_name1 NULLS FIRST, s_store_id1 NULLS FIRST,
         d_week_seq1 NULLS FIRST
LIMIT 100
""")

# q62 — web shipping-latency buckets by warehouse/mode/site (62.sql)
_tpcds("tpcds_q62", """
SELECT w_substr, sm_type, web_name,
       CAST(SUM(CASE WHEN ws_ship_date_sk - ws_sold_date_sk <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 30
                 AND ws_ship_date_sk - ws_sold_date_sk <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(SUM(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 60
                 AND ws_ship_date_sk - ws_sold_date_sk <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(SUM(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 90
                 AND ws_ship_date_sk - ws_sold_date_sk <= 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(SUM(CASE WHEN ws_ship_date_sk - ws_sold_date_sk > 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d120_plus
FROM {web_sales} web_sales,
     (SELECT SUBSTRING(w_warehouse_name, 1, 20) AS w_substr, *
      FROM {warehouse} warehouse) sq1,
     {ship_mode} ship_mode, {web_site} web_site, {date_dim} date_dim
WHERE d_month_seq BETWEEN 1200 AND 1211
  AND ws_ship_date_sk = d_date_sk
  AND ws_warehouse_sk = w_warehouse_sk
  AND ws_ship_mode_sk = sm_ship_mode_sk
  AND ws_web_site_sk = web_site_sk
GROUP BY w_substr, sm_type, web_name
ORDER BY w_substr NULLS FIRST, sm_type NULLS FIRST, web_name NULLS FIRST
LIMIT 100
""")


# q69 — demographic profile of store-only customers (69.sql)
_tpcds("tpcds_q69", """
SELECT cd_gender, cd_marital_status, cd_education_status, COUNT(*) AS cnt1,
       cd_purchase_estimate, COUNT(*) AS cnt2, cd_credit_rating,
       COUNT(*) AS cnt3
FROM {customer} c, {customer_address} ca,
     {customer_demographics} customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_state IN ('KY', 'GA', 'NC')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM {store_sales} store_sales, {date_dim} date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 2001 AND d_moy BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT * FROM {web_sales} web_sales, {date_dim} date_dim
                  WHERE c.c_customer_sk = ws_bill_customer_sk
                    AND ws_sold_date_sk = d_date_sk
                    AND d_year = 2001 AND d_moy BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT * FROM {catalog_sales} catalog_sales,
                       {date_dim} date_dim
                  WHERE c.c_customer_sk = cs_ship_customer_sk
                    AND cs_sold_date_sk = d_date_sk
                    AND d_year = 2001 AND d_moy BETWEEN 4 AND 6)
GROUP BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
ORDER BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
LIMIT 100
""")

# q75 — all-channel net sales year-over-year decline (75.sql)
_tpcds("tpcds_q75", """
WITH all_sales AS
  (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
          SUM(sales_cnt) AS sales_cnt, SUM(sales_amt) AS sales_amt
   FROM
     (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             cs_quantity - COALESCE(cr_return_quantity, 0) AS sales_cnt,
             cs_ext_sales_price - COALESCE(cr_return_amount, 0.0) AS sales_amt
      FROM {catalog_sales} catalog_sales
      JOIN {item} item ON i_item_sk = cs_item_sk
      JOIN {date_dim} date_dim ON d_date_sk = cs_sold_date_sk
      LEFT JOIN {catalog_returns} catalog_returns
        ON (cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk)
      WHERE i_category = 'category#2'
      UNION
      SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             ss_quantity - COALESCE(sr_return_quantity, 0) AS sales_cnt,
             ss_ext_sales_price - COALESCE(sr_return_amt, 0.0) AS sales_amt
      FROM {store_sales} store_sales
      JOIN {item} item ON i_item_sk = ss_item_sk
      JOIN {date_dim} date_dim ON d_date_sk = ss_sold_date_sk
      LEFT JOIN {store_returns} store_returns
        ON (ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk)
      WHERE i_category = 'category#2'
      UNION
      SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             ws_quantity - COALESCE(wr_return_quantity, 0) AS sales_cnt,
             ws_ext_sales_price - COALESCE(wr_return_amt, 0.0) AS sales_amt
      FROM {web_sales} web_sales
      JOIN {item} item ON i_item_sk = ws_item_sk
      JOIN {date_dim} date_dim ON d_date_sk = ws_sold_date_sk
      LEFT JOIN {web_returns} web_returns
        ON (ws_order_number = wr_order_number AND ws_item_sk = wr_item_sk)
      WHERE i_category = 'category#2') sales_detail
   GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year_,
       curr_yr.i_brand_id, curr_yr.i_class_id, curr_yr.i_category_id,
       curr_yr.i_manufact_id,
       CAST(prev_yr.sales_cnt AS BIGINT) AS prev_yr_cnt,
       CAST(curr_yr.sales_cnt AS BIGINT) AS curr_yr_cnt,
       CAST(curr_yr.sales_cnt - prev_yr.sales_cnt AS BIGINT)
           AS sales_cnt_diff,
       ROUND(CAST(curr_yr.sales_amt - prev_yr.sales_amt AS DOUBLE), 2)
           AS sales_amt_diff
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_class_id = prev_yr.i_class_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
  AND curr_yr.d_year = 2002 AND prev_yr.d_year = 2001
  AND CAST(curr_yr.sales_cnt AS DECIMAL(17,2)) /
      CAST(prev_yr.sales_cnt AS DECIMAL(17,2)) < 0.9
ORDER BY sales_cnt_diff, sales_amt_diff, curr_yr.i_brand_id,
         curr_yr.i_class_id, curr_yr.i_category_id, curr_yr.i_manufact_id
LIMIT 100
""")

# q76 — NULL-channel-key sales census across channels (76.sql)
_tpcds("tpcds_q76", """
SELECT channel, col_name, d_year, d_qoy, i_category,
       COUNT(*) AS sales_cnt,
       ROUND(CAST(SUM(ext_sales_price) AS DOUBLE), 2) AS sales_amt
FROM
  (SELECT 'store' AS channel, 'ss_store_sk' AS col_name, d_year, d_qoy,
          i_category, ss_ext_sales_price AS ext_sales_price
   FROM {store_sales} store_sales, {item} item, {date_dim} date_dim
   WHERE ss_store_sk IS NULL
     AND ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
   UNION ALL
   SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name, d_year, d_qoy,
          i_category, ws_ext_sales_price
   FROM {web_sales} web_sales, {item} item, {date_dim} date_dim
   WHERE ws_ship_customer_sk IS NULL
     AND ws_sold_date_sk = d_date_sk AND ws_item_sk = i_item_sk
   UNION ALL
   SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name, d_year, d_qoy,
          i_category, cs_ext_sales_price
   FROM {catalog_sales} catalog_sales, {item} item, {date_dim} date_dim
   WHERE cs_ship_addr_sk IS NULL
     AND cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel NULLS FIRST, col_name NULLS FIRST, d_year NULLS FIRST,
         d_qoy NULLS FIRST, i_category NULLS FIRST
LIMIT 100
""")

# q77 — channel profit-and-returns rollup (77.sql)
_tpcds("tpcds_q77", """
WITH ss AS
  (SELECT s_store_sk, SUM(ss_ext_sales_price) AS sales,
          SUM(ss_net_profit) AS profit
   FROM {store_sales} store_sales, {date_dim} date_dim, {store} store
   WHERE ss_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND ss_store_sk = s_store_sk
   GROUP BY s_store_sk),
sr AS
  (SELECT s_store_sk, SUM(sr_return_amt) AS returns_,
          SUM(sr_net_loss) AS profit_loss
   FROM {store_returns} store_returns, {date_dim} date_dim, {store} store
   WHERE sr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND sr_store_sk = s_store_sk
   GROUP BY s_store_sk),
cs AS
  (SELECT cs_call_center_sk, SUM(cs_ext_sales_price) AS sales,
          SUM(cs_net_profit) AS profit
   FROM {catalog_sales} catalog_sales, {date_dim} date_dim
   WHERE cs_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
   GROUP BY cs_call_center_sk),
cr AS
  (SELECT cr_call_center_sk, SUM(cr_return_amount) AS returns_,
          SUM(cr_net_loss) AS profit_loss
   FROM {catalog_returns} catalog_returns, {date_dim} date_dim
   WHERE cr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
   GROUP BY cr_call_center_sk),
ws AS
  (SELECT wp_web_page_sk, SUM(ws_ext_sales_price) AS sales,
          SUM(ws_net_profit) AS profit
   FROM {web_sales} web_sales, {date_dim} date_dim, {web_page} web_page
   WHERE ws_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND ws_web_page_sk = wp_web_page_sk
   GROUP BY wp_web_page_sk),
wr AS
  (SELECT wp_web_page_sk, SUM(wr_return_amt) AS returns_,
          SUM(wr_net_loss) AS profit_loss
   FROM {web_returns} web_returns, {date_dim} date_dim, {web_page} web_page
   WHERE wr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND wr_web_page_sk = wp_web_page_sk
   GROUP BY wp_web_page_sk)
SELECT channel, id,
       ROUND(CAST(SUM(sales) AS DOUBLE), 2) AS sales,
       ROUND(CAST(SUM(returns_) AS DOUBLE), 2) AS returns_,
       ROUND(CAST(SUM(profit) AS DOUBLE), 2) AS profit
FROM
  (SELECT 'store channel' AS channel, ss.s_store_sk AS id, sales,
          COALESCE(returns_, 0) AS returns_,
          profit - COALESCE(profit_loss, 0) AS profit
   FROM ss LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
   UNION ALL
   SELECT 'catalog channel' AS channel, cs_call_center_sk AS id, sales,
          returns_, profit - profit_loss AS profit
   FROM cs, cr
   UNION ALL
   SELECT 'web channel' AS channel, ws.wp_web_page_sk AS id, sales,
          COALESCE(returns_, 0) AS returns_,
          profit - COALESCE(profit_loss, 0) AS profit
   FROM ws LEFT JOIN wr ON ws.wp_web_page_sk = wr.wp_web_page_sk) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST, returns_ DESC
LIMIT 100
""")

# q80 — channel promotion report with returns netting (80.sql)
_tpcds("tpcds_q80", """
WITH ssr AS
  (SELECT s_store_id AS store_id, SUM(ss_ext_sales_price) AS sales,
          SUM(COALESCE(sr_return_amt, 0)) AS returns_,
          SUM(ss_net_profit - COALESCE(sr_net_loss, 0)) AS profit
   FROM {store_sales} store_sales
   LEFT OUTER JOIN {store_returns} store_returns
     ON (ss_item_sk = sr_item_sk AND ss_ticket_number = sr_ticket_number),
   {date_dim} date_dim, {store} store, {item} item, {promotion} promotion
   WHERE ss_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND ss_store_sk = s_store_sk AND ss_item_sk = i_item_sk
     AND i_current_price > 50
     AND ss_promo_sk = p_promo_sk AND p_channel_tv = 'N'
   GROUP BY s_store_id),
csr AS
  (SELECT cp_catalog_page_id AS catalog_page_id,
          SUM(cs_ext_sales_price) AS sales,
          SUM(COALESCE(cr_return_amount, 0)) AS returns_,
          SUM(cs_net_profit - COALESCE(cr_net_loss, 0)) AS profit
   FROM {catalog_sales} catalog_sales
   LEFT OUTER JOIN {catalog_returns} catalog_returns
     ON (cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number),
   {date_dim} date_dim, {catalog_page} catalog_page, {item} item,
   {promotion} promotion
   WHERE cs_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND cs_catalog_page_sk = cp_catalog_page_sk AND cs_item_sk = i_item_sk
     AND i_current_price > 50
     AND cs_promo_sk = p_promo_sk AND p_channel_tv = 'N'
   GROUP BY cp_catalog_page_id),
wsr AS
  (SELECT web_site_id, SUM(ws_ext_sales_price) AS sales,
          SUM(COALESCE(wr_return_amt, 0)) AS returns_,
          SUM(ws_net_profit - COALESCE(wr_net_loss, 0)) AS profit
   FROM {web_sales} web_sales
   LEFT OUTER JOIN {web_returns} web_returns
     ON (ws_item_sk = wr_item_sk AND ws_order_number = wr_order_number),
   {date_dim} date_dim, {web_site} web_site, {item} item,
   {promotion} promotion
   WHERE ws_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-22' AS DATE)
     AND ws_web_site_sk = web_site_sk AND ws_item_sk = i_item_sk
     AND i_current_price > 50
     AND ws_promo_sk = p_promo_sk AND p_channel_tv = 'N'
   GROUP BY web_site_id)
SELECT channel, id,
       ROUND(CAST(SUM(sales) AS DOUBLE), 2) AS sales,
       ROUND(CAST(SUM(returns_) AS DOUBLE), 2) AS returns_,
       ROUND(CAST(SUM(profit) AS DOUBLE), 2) AS profit
FROM
  (SELECT 'store channel' AS channel, 'store' || store_id AS id,
          sales, returns_, profit
   FROM ssr
   UNION ALL
   SELECT 'catalog channel' AS channel, 'catalog_page' || catalog_page_id,
          sales, returns_, profit
   FROM csr
   UNION ALL
   SELECT 'web channel' AS channel, 'web_site' || web_site_id,
          sales, returns_, profit
   FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST, returns_ DESC
LIMIT 100
""")

# q82 — low-stock store items in a price/manufacturer slice (82.sql)
_tpcds("tpcds_q82", """
SELECT i_item_id, i_item_desc,
       CAST(i_current_price AS DOUBLE) AS i_current_price
FROM {item} item, {inventory} inventory, {date_dim} date_dim,
     {store_sales} store_sales
WHERE i_current_price BETWEEN 62 AND 62 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('2000-05-25' AS DATE) AND CAST('2000-07-24' AS DATE)
  AND i_manufact_id IN (129, 270, 421, 57)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id, i_item_desc, i_current_price
LIMIT 100
""")

# q84 — income-band customer lookup through returns demographics (84.sql)
_tpcds("tpcds_q84", """
SELECT c_customer_id AS customer_id,
       COALESCE(c_last_name, '') || ', ' || COALESCE(c_first_name, '')
           AS customername
FROM {customer} customer, {customer_address} customer_address,
     {customer_demographics} customer_demographics,
     {household_demographics} household_demographics,
     {income_band} income_band, {store_returns} store_returns
WHERE ca_city = 'Oakland'
  AND c_current_addr_sk = ca_address_sk
  AND ib_lower_bound >= 38128 AND ib_upper_bound <= 38128 + 50000
  AND ib_income_band_sk = hd_income_band_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND sr_cdemo_sk = cd_demo_sk
ORDER BY c_customer_id NULLS FIRST, customername NULLS FIRST
LIMIT 100
""")

# q86 — web rollup with grouping-rank window (86.sql)
_tpcds("tpcds_q86", """
SELECT ROUND(CAST(SUM(ws_net_paid) AS DOUBLE), 2) AS total_sum,
       i_category, i_class,
       GROUPING(i_category) + GROUPING(i_class) AS lochierarchy,
       RANK() OVER (PARTITION BY GROUPING(i_category) + GROUPING(i_class),
                    CASE WHEN GROUPING(i_class) = 0 THEN i_category END
                    ORDER BY SUM(ws_net_paid) DESC) AS rank_within_parent
FROM {web_sales} web_sales, {date_dim} d1, {item} item
WHERE d1.d_month_seq BETWEEN 1200 AND 1211
  AND d1.d_date_sk = ws_sold_date_sk
  AND i_item_sk = ws_item_sk
GROUP BY ROLLUP (i_category, i_class)
ORDER BY lochierarchy DESC NULLS FIRST,
         CASE WHEN lochierarchy = 0 THEN i_category END NULLS FIRST,
         rank_within_parent NULLS FIRST, i_category NULLS FIRST,
         i_class NULLS FIRST
LIMIT 100
""")

# q90 — web AM/PM sales ratio (90.sql)
_tpcds("tpcds_q90", """
SELECT ROUND(CASE WHEN pmc = 0 THEN NULL
            ELSE CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE) END, 4)
           AS am_pm_ratio
FROM
  (SELECT COUNT(*) AS amc
   FROM {web_sales} web_sales, {household_demographics} household_demographics,
        {time_dim} time_dim, {web_page} web_page
   WHERE ws_sold_time_sk = time_dim.t_time_sk
     AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
     AND ws_web_page_sk = web_page.wp_web_page_sk
     AND time_dim.t_hour BETWEEN 8 AND 9
     AND household_demographics.hd_dep_count = 6
     AND web_page.wp_char_count BETWEEN 5000 AND 5200) at_,
  (SELECT COUNT(*) AS pmc
   FROM {web_sales} web_sales, {household_demographics} household_demographics,
        {time_dim} time_dim, {web_page} web_page
   WHERE ws_sold_time_sk = time_dim.t_time_sk
     AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
     AND ws_web_page_sk = web_page.wp_web_page_sk
     AND time_dim.t_hour BETWEEN 19 AND 20
     AND household_demographics.hd_dep_count = 6
     AND web_page.wp_char_count BETWEEN 5000 AND 5200) pt
ORDER BY am_pm_ratio
LIMIT 100
""")

# q94 — web orders shipped from multiple warehouses, never returned (94.sql)
_tpcds("tpcds_q94", """
SELECT COUNT(DISTINCT ws_order_number) AS order_cnt,
       ROUND(CAST(SUM(ws_ext_ship_cost) AS DOUBLE), 2) AS total_shipping_cost,
       ROUND(CAST(SUM(ws_net_profit) AS DOUBLE), 2) AS total_net_profit
FROM {web_sales} ws1, {date_dim} date_dim,
     {customer_address} customer_address, {web_site} web_site
WHERE d_date BETWEEN '1999-02-01' AND CAST('1999-04-02' AS DATE)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'VA'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'pri'
  AND EXISTS (SELECT * FROM {web_sales} ws2
              WHERE ws1.ws_order_number = ws2.ws_order_number
                AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  AND NOT EXISTS (SELECT * FROM {web_returns} wr1
                  WHERE ws1.ws_order_number = wr1.wr_order_number)
""")

# q95 — web orders shipped from multiple warehouses AND returned (95.sql)
_tpcds("tpcds_q95", """
WITH ws_wh AS
  (SELECT ws1.ws_order_number, ws1.ws_warehouse_sk AS wh1,
          ws2.ws_warehouse_sk AS wh2
   FROM {web_sales} ws1, {web_sales} ws2
   WHERE ws1.ws_order_number = ws2.ws_order_number
     AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
SELECT COUNT(DISTINCT ws_order_number) AS order_cnt,
       ROUND(CAST(SUM(ws_ext_ship_cost) AS DOUBLE), 2) AS total_shipping_cost,
       ROUND(CAST(SUM(ws_net_profit) AS DOUBLE), 2) AS total_net_profit
FROM {web_sales} ws1, {date_dim} date_dim,
     {customer_address} customer_address, {web_site} web_site
WHERE d_date BETWEEN '1999-02-01' AND CAST('1999-04-02' AS DATE)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'VA'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'pri'
  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
  AND ws1.ws_order_number IN
    (SELECT wr_order_number FROM {web_returns} web_returns, ws_wh
     WHERE wr_order_number = ws_wh.ws_order_number)
""")

# q99 — catalog shipping-latency buckets by warehouse/mode/call-center
# (99.sql)
_tpcds("tpcds_q99", """
SELECT w_substr, sm_type, cc_name,
       CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 30
                 AND cs_ship_date_sk - cs_sold_date_sk <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 60
                 AND cs_ship_date_sk - cs_sold_date_sk <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 90
                 AND cs_ship_date_sk - cs_sold_date_sk <= 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(SUM(CASE WHEN cs_ship_date_sk - cs_sold_date_sk > 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d120_plus
FROM {catalog_sales} catalog_sales,
     (SELECT SUBSTRING(w_warehouse_name, 1, 20) AS w_substr, *
      FROM {warehouse} warehouse) sq1,
     {ship_mode} ship_mode, {call_center} call_center, {date_dim} date_dim
WHERE d_month_seq BETWEEN 1200 AND 1211
  AND cs_ship_date_sk = d_date_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_ship_mode_sk = sm_ship_mode_sk
  AND cs_call_center_sk = cc_call_center_sk
GROUP BY w_substr, sm_type, cc_name
ORDER BY w_substr NULLS FIRST, sm_type NULLS FIRST, cc_name NULLS FIRST
LIMIT 100
""")


# q5 — store/catalog/web sales-and-returns rollup over a two-week window
# (05.sql)
_tpcds("tpcds_q05", """
WITH ssr AS
  (SELECT s_store_id, SUM(sales_price) AS sales, SUM(profit) AS profit,
          SUM(return_amt) AS returns_, SUM(net_loss) AS profit_loss
   FROM
     (SELECT ss_store_sk AS store_sk, ss_sold_date_sk AS date_sk,
             ss_ext_sales_price AS sales_price, ss_net_profit AS profit,
             CAST(0 AS DECIMAL(7,2)) AS return_amt,
             CAST(0 AS DECIMAL(7,2)) AS net_loss
      FROM {store_sales} store_sales
      UNION ALL
      SELECT sr_store_sk, sr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
             CAST(0 AS DECIMAL(7,2)), sr_return_amt, sr_net_loss
      FROM {store_returns} store_returns) salesreturns,
     {date_dim} date_dim, {store} store
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-06' AS DATE)
     AND store_sk = s_store_sk
   GROUP BY s_store_id),
csr AS
  (SELECT cp_catalog_page_id, SUM(sales_price) AS sales,
          SUM(profit) AS profit, SUM(return_amt) AS returns_,
          SUM(net_loss) AS profit_loss
   FROM
     (SELECT cs_catalog_page_sk AS page_sk, cs_sold_date_sk AS date_sk,
             cs_ext_sales_price AS sales_price, cs_net_profit AS profit,
             CAST(0 AS DECIMAL(7,2)) AS return_amt,
             CAST(0 AS DECIMAL(7,2)) AS net_loss
      FROM {catalog_sales} catalog_sales
      UNION ALL
      SELECT cr_catalog_page_sk, cr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
             CAST(0 AS DECIMAL(7,2)), cr_return_amount, cr_net_loss
      FROM {catalog_returns} catalog_returns) salesreturns,
     {date_dim} date_dim, {catalog_page} catalog_page
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-06' AS DATE)
     AND page_sk = cp_catalog_page_sk
   GROUP BY cp_catalog_page_id),
wsr AS
  (SELECT web_site_id, SUM(sales_price) AS sales, SUM(profit) AS profit,
          SUM(return_amt) AS returns_, SUM(net_loss) AS profit_loss
   FROM
     (SELECT ws_web_site_sk AS wsr_web_site_sk, ws_sold_date_sk AS date_sk,
             ws_ext_sales_price AS sales_price, ws_net_profit AS profit,
             CAST(0 AS DECIMAL(7,2)) AS return_amt,
             CAST(0 AS DECIMAL(7,2)) AS net_loss
      FROM {web_sales} web_sales
      UNION ALL
      SELECT ws_web_site_sk, wr_returned_date_sk, CAST(0 AS DECIMAL(7,2)),
             CAST(0 AS DECIMAL(7,2)), wr_return_amt, wr_net_loss
      FROM {web_returns} web_returns
      LEFT OUTER JOIN {web_sales} web_sales
        ON (wr_item_sk = ws_item_sk
            AND wr_order_number = ws_order_number)) salesreturns,
     {date_dim} date_dim, {web_site} web_site
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('2000-08-23' AS DATE) AND CAST('2000-09-06' AS DATE)
     AND wsr_web_site_sk = web_site_sk
   GROUP BY web_site_id)
SELECT channel, id,
       ROUND(CAST(SUM(sales) AS DOUBLE), 2) AS sales,
       ROUND(CAST(SUM(returns_) AS DOUBLE), 2) AS returns_,
       ROUND(CAST(SUM(profit) AS DOUBLE), 2) AS profit
FROM
  (SELECT 'store channel' AS channel, 'store' || s_store_id AS id,
          sales, returns_, profit - profit_loss AS profit
   FROM ssr
   UNION ALL
   SELECT 'catalog channel' AS channel, 'catalog_page' || cp_catalog_page_id,
          sales, returns_, profit - profit_loss AS profit
   FROM csr
   UNION ALL
   SELECT 'web channel' AS channel, 'web_site' || web_site_id,
          sales, returns_, profit - profit_loss AS profit
   FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
""")

# q66 — warehouse monthly sales pivot, web+catalog, carrier slice (66.sql)
_tpcds("tpcds_q66", """
SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
       w_country, ship_carriers, year_,
       ROUND(CAST(SUM(jan_sales) AS DOUBLE), 2) AS jan_sales,
       ROUND(CAST(SUM(feb_sales) AS DOUBLE), 2) AS feb_sales,
       ROUND(CAST(SUM(mar_sales) AS DOUBLE), 2) AS mar_sales,
       ROUND(CAST(SUM(apr_sales) AS DOUBLE), 2) AS apr_sales,
       ROUND(CAST(SUM(may_sales) AS DOUBLE), 2) AS may_sales,
       ROUND(CAST(SUM(jun_sales) AS DOUBLE), 2) AS jun_sales,
       ROUND(CAST(SUM(jul_sales) AS DOUBLE), 2) AS jul_sales,
       ROUND(CAST(SUM(aug_sales) AS DOUBLE), 2) AS aug_sales,
       ROUND(CAST(SUM(sep_sales) AS DOUBLE), 2) AS sep_sales,
       ROUND(CAST(SUM(oct_sales) AS DOUBLE), 2) AS oct_sales,
       ROUND(CAST(SUM(nov_sales) AS DOUBLE), 2) AS nov_sales,
       ROUND(CAST(SUM(dec_sales) AS DOUBLE), 2) AS dec_sales,
       ROUND(CAST(SUM(jan_sales) AS DOUBLE) / w_warehouse_sq_ft, 4)
           AS jan_sales_per_sq_foot,
       ROUND(CAST(SUM(jun_sales) AS DOUBLE) / w_warehouse_sq_ft, 4)
           AS jun_sales_per_sq_foot,
       ROUND(CAST(SUM(dec_sales) AS DOUBLE) / w_warehouse_sq_ft, 4)
           AS dec_sales_per_sq_foot,
       ROUND(CAST(SUM(jan_net) AS DOUBLE), 2) AS jan_net,
       ROUND(CAST(SUM(jun_net) AS DOUBLE), 2) AS jun_net,
       ROUND(CAST(SUM(dec_net) AS DOUBLE), 2) AS dec_net
FROM
  (SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
          w_country, 'DHL,UPS' AS ship_carriers, d_year AS year_,
          SUM(CASE WHEN d_moy = 1 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jan_sales,
          SUM(CASE WHEN d_moy = 2 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS feb_sales,
          SUM(CASE WHEN d_moy = 3 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS mar_sales,
          SUM(CASE WHEN d_moy = 4 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS apr_sales,
          SUM(CASE WHEN d_moy = 5 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS may_sales,
          SUM(CASE WHEN d_moy = 6 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jun_sales,
          SUM(CASE WHEN d_moy = 7 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jul_sales,
          SUM(CASE WHEN d_moy = 8 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS aug_sales,
          SUM(CASE WHEN d_moy = 9 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS sep_sales,
          SUM(CASE WHEN d_moy = 10 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS oct_sales,
          SUM(CASE WHEN d_moy = 11 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS nov_sales,
          SUM(CASE WHEN d_moy = 12 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS dec_sales,
          SUM(CASE WHEN d_moy = 1 THEN ws_net_paid * ws_quantity ELSE 0 END) AS jan_net,
          SUM(CASE WHEN d_moy = 6 THEN ws_net_paid * ws_quantity ELSE 0 END) AS jun_net,
          SUM(CASE WHEN d_moy = 12 THEN ws_net_paid * ws_quantity ELSE 0 END) AS dec_net
   FROM {web_sales} web_sales, {warehouse} warehouse, {date_dim} date_dim,
        {time_dim} time_dim, {ship_mode} ship_mode
   WHERE ws_warehouse_sk = w_warehouse_sk AND ws_sold_date_sk = d_date_sk
     AND ws_sold_time_sk = t_time_sk AND ws_ship_mode_sk = sm_ship_mode_sk
     AND d_year = 2001 AND t_time BETWEEN 30838 AND 30838 + 28800
     AND sm_carrier IN ('DHL', 'UPS')
   GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
            w_country, d_year
   UNION ALL
   SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
          w_country, 'DHL,UPS' AS ship_carriers, d_year AS year_,
          SUM(CASE WHEN d_moy = 1 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jan_sales,
          SUM(CASE WHEN d_moy = 2 THEN cs_sales_price * cs_quantity ELSE 0 END) AS feb_sales,
          SUM(CASE WHEN d_moy = 3 THEN cs_sales_price * cs_quantity ELSE 0 END) AS mar_sales,
          SUM(CASE WHEN d_moy = 4 THEN cs_sales_price * cs_quantity ELSE 0 END) AS apr_sales,
          SUM(CASE WHEN d_moy = 5 THEN cs_sales_price * cs_quantity ELSE 0 END) AS may_sales,
          SUM(CASE WHEN d_moy = 6 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jun_sales,
          SUM(CASE WHEN d_moy = 7 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jul_sales,
          SUM(CASE WHEN d_moy = 8 THEN cs_sales_price * cs_quantity ELSE 0 END) AS aug_sales,
          SUM(CASE WHEN d_moy = 9 THEN cs_sales_price * cs_quantity ELSE 0 END) AS sep_sales,
          SUM(CASE WHEN d_moy = 10 THEN cs_sales_price * cs_quantity ELSE 0 END) AS oct_sales,
          SUM(CASE WHEN d_moy = 11 THEN cs_sales_price * cs_quantity ELSE 0 END) AS nov_sales,
          SUM(CASE WHEN d_moy = 12 THEN cs_sales_price * cs_quantity ELSE 0 END) AS dec_sales,
          SUM(CASE WHEN d_moy = 1 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS jan_net,
          SUM(CASE WHEN d_moy = 6 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS jun_net,
          SUM(CASE WHEN d_moy = 12 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS dec_net
   FROM {catalog_sales} catalog_sales, {warehouse} warehouse,
        {date_dim} date_dim, {time_dim} time_dim, {ship_mode} ship_mode
   WHERE cs_warehouse_sk = w_warehouse_sk AND cs_sold_date_sk = d_date_sk
     AND cs_sold_time_sk = t_time_sk AND cs_ship_mode_sk = sm_ship_mode_sk
     AND d_year = 2001 AND t_time BETWEEN 30838 AND 30838 + 28800
     AND sm_carrier IN ('DHL', 'UPS')
   GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
            w_country, d_year) x
GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
         w_country, ship_carriers, year_
ORDER BY w_warehouse_name NULLS FIRST
LIMIT 100
""")


# ---- round-6 expansion: the remaining 33 queries (66 -> all 99).
# Constants adapted to the fixture's value cycles per the module header;
# every aggregate aliased + rounded through DOUBLE/DECIMAL(20,6) so the
# driver's value-hash compares engine-independent numbers; ORDER BY lists
# extended to a total order wherever the reference's isn't (LIMIT safety).

# q4 — three-channel year-over-year customer growth (04.sql)
# The main query reads only years 2001 and 2002, and d_year is a GROUP BY
# key of every branch, so the year filter inside year_total keeps the
# result and materializes two years instead of all.
_tpcds("tpcds_q04", """
WITH year_total AS MATERIALIZED
  (SELECT c_customer_id customer_id, c_first_name customer_first_name,
          c_last_name customer_last_name,
          c_preferred_cust_flag customer_preferred_cust_flag,
          c_birth_country customer_birth_country, c_login customer_login,
          c_email_address customer_email_address, d_year dyear,
          SUM(((ss_ext_list_price - ss_ext_wholesale_cost
                - ss_ext_discount_amt) + ss_ext_sales_price) / 2) year_total,
          's' sale_type
   FROM {customer} customer, {store_sales} store_sales, {date_dim} date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2002)
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
            c_birth_country, c_login, c_email_address, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year,
          SUM(((cs_ext_list_price - cs_ext_wholesale_cost
                - cs_ext_discount_amt) + cs_ext_sales_price) / 2),
          'c' sale_type
   FROM {customer} customer, {catalog_sales} catalog_sales,
        {date_dim} date_dim
   WHERE c_customer_sk = cs_bill_customer_sk AND cs_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2002)
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
            c_birth_country, c_login, c_email_address, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year,
          SUM(((ws_ext_list_price - ws_ext_wholesale_cost
                - ws_ext_discount_amt) + ws_ext_sales_price) / 2),
          'w' sale_type
   FROM {customer} customer, {web_sales} web_sales, {date_dim} date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2002)
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
            c_birth_country, c_login, c_email_address, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2001 AND t_s_secyear.dyear = 2001 + 1
  AND t_c_firstyear.dyear = 2001 AND t_c_secyear.dyear = 2001 + 1
  AND t_w_firstyear.dyear = 2001 AND t_w_secyear.dyear = 2001 + 1
  AND t_s_firstyear.year_total > 0 AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE NULL END
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_w_firstyear.year_total > 0
             THEN t_w_secyear.year_total / t_w_firstyear.year_total
             ELSE NULL END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST,
         t_s_secyear.customer_preferred_cust_flag NULLS FIRST
LIMIT 100
""")

# q8 — store profit for zips with >10 preferred customers (08.sql; zip
# list drawn from the fixture's 300-value pool)
_tpcds("tpcds_q08", """
SELECT s_store_name, ROUND(CAST(SUM(ss_net_profit) AS DOUBLE), 2) AS profit
FROM {store_sales} store_sales, {date_dim} date_dim, {store} store,
  (SELECT ca_zip
   FROM (SELECT SUBSTRING(ca_zip, 1, 5) ca_zip
         FROM {customer_address} customer_address
         WHERE SUBSTRING(ca_zip, 1, 5) IN
             ('10000', '10301', '10602', '10903', '11204', '11505', '11806',
              '12107', '12408', '12709', '13010', '13311', '13612', '13913',
              '14214', '14515', '14816', '15117', '15418', '15719', '16020',
              '16321', '16622', '16923', '17224', '17525', '17826', '18127',
              '18428', '18729', '19030', '19331', '19632', '19933', '20234',
              '20535', '20836', '21137', '21438', '21739', '22040', '22341',
              '22642', '22943', '23244', '23545', '23846', '24147', '24448',
              '24749')
         INTERSECT
         SELECT ca_zip
         FROM (SELECT SUBSTRING(ca_zip, 1, 5) ca_zip, COUNT(*) cnt
               FROM {customer_address} customer_address, {customer} customer
               WHERE ca_address_sk = c_current_addr_sk
                 AND c_preferred_cust_flag = 'Y'
               GROUP BY ca_zip
               HAVING COUNT(*) > 10) A1) A2) V1
WHERE ss_store_sk = s_store_sk AND ss_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 1998
  AND (SUBSTRING(s_zip, 1, 2) = SUBSTRING(V1.ca_zip, 1, 2))
GROUP BY s_store_name
ORDER BY s_store_name
LIMIT 100
""")

# q10 — demographic census of active multi-channel customers (10.sql)
_tpcds("tpcds_q10", """
SELECT cd_gender, cd_marital_status, cd_education_status, COUNT(*) cnt1,
       cd_purchase_estimate, COUNT(*) cnt2, cd_credit_rating, COUNT(*) cnt3,
       cd_dep_count, COUNT(*) cnt4, cd_dep_employed_count, COUNT(*) cnt5,
       cd_dep_college_count, COUNT(*) cnt6
FROM {customer} c, {customer_address} ca,
     {customer_demographics} customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_county IN ('county#1', 'county#2', 'county#5', 'county#8',
                    'county#13')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM {store_sales} store_sales, {date_dim} date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk AND d_year = 2002
                AND d_moy BETWEEN 1 AND 1 + 3)
  AND (EXISTS (SELECT * FROM {web_sales} web_sales, {date_dim} date_dim
               WHERE c.c_customer_sk = ws_bill_customer_sk
                 AND ws_sold_date_sk = d_date_sk AND d_year = 2002
                 AND d_moy BETWEEN 1 AND 1 + 3)
       OR EXISTS (SELECT * FROM {catalog_sales} catalog_sales,
                       {date_dim} date_dim
                  WHERE c.c_customer_sk = cs_ship_customer_sk
                    AND cs_sold_date_sk = d_date_sk AND d_year = 2002
                    AND d_moy BETWEEN 1 AND 1 + 3))
GROUP BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
ORDER BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
LIMIT 100
""")

# q11 — store/web year-over-year growth (11.sql)
# The main query reads only years 2001 and 2002, and d_year is a GROUP BY
# key of every branch, so the year filter inside year_total keeps the
# result and materializes two years instead of all.
_tpcds("tpcds_q11", """
WITH year_total AS MATERIALIZED
  (SELECT c_customer_id customer_id, c_first_name customer_first_name,
          c_last_name customer_last_name,
          c_preferred_cust_flag customer_preferred_cust_flag,
          c_birth_country customer_birth_country, c_login customer_login,
          c_email_address customer_email_address, d_year dyear,
          SUM(ss_ext_list_price - ss_ext_discount_amt) year_total,
          's' sale_type
   FROM {customer} customer, {store_sales} store_sales, {date_dim} date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2002)
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
            c_birth_country, c_login, c_email_address, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          c_birth_country, c_login, c_email_address, d_year,
          SUM(ws_ext_list_price - ws_ext_discount_amt), 'w' sale_type
   FROM {customer} customer, {web_sales} web_sales, {date_dim} date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2002)
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
            c_birth_country, c_login, c_email_address, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2001 AND t_s_secyear.dyear = 2001 + 1
  AND t_w_firstyear.dyear = 2001 AND t_w_secyear.dyear = 2001 + 1
  AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN (t_w_secyear.year_total * 1.0000) / t_w_firstyear.year_total
           ELSE 0.0 END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN (t_s_secyear.year_total * 1.0000) / t_s_firstyear.year_total
             ELSE 0.0 END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST,
         t_s_secyear.customer_preferred_cust_flag NULLS FIRST
LIMIT 100
""")

# q14 (part 1) — cross-channel item intersection vs average sales (14.sql)
_tpcds("tpcds_q14", """
WITH cross_items AS MATERIALIZED
  (SELECT i_item_sk ss_item_sk
   FROM {item} item,
     (SELECT iss.i_brand_id brand_id, iss.i_class_id class_id,
             iss.i_category_id category_id
      FROM {store_sales} store_sales, {item} iss, {date_dim} d1
      WHERE ss_item_sk = iss.i_item_sk AND ss_sold_date_sk = d1.d_date_sk
        AND d1.d_year BETWEEN 1999 AND 1999 + 2
      INTERSECT
      SELECT ics.i_brand_id, ics.i_class_id, ics.i_category_id
      FROM {catalog_sales} catalog_sales, {item} ics, {date_dim} d2
      WHERE cs_item_sk = ics.i_item_sk AND cs_sold_date_sk = d2.d_date_sk
        AND d2.d_year BETWEEN 1999 AND 1999 + 2
      INTERSECT
      SELECT iws.i_brand_id, iws.i_class_id, iws.i_category_id
      FROM {web_sales} web_sales, {item} iws, {date_dim} d3
      WHERE ws_item_sk = iws.i_item_sk AND ws_sold_date_sk = d3.d_date_sk
        AND d3.d_year BETWEEN 1999 AND 1999 + 2) sq1
   WHERE i_brand_id = brand_id AND i_class_id = class_id
     AND i_category_id = category_id),
avg_sales AS MATERIALIZED
  (SELECT AVG(quantity * list_price) average_sales
   FROM (SELECT ss_quantity quantity, ss_list_price list_price
         FROM {store_sales} store_sales, {date_dim} date_dim
         WHERE ss_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 1999 + 2
         UNION ALL
         SELECT cs_quantity, cs_list_price
         FROM {catalog_sales} catalog_sales, {date_dim} date_dim
         WHERE cs_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 1999 + 2
         UNION ALL
         SELECT ws_quantity, ws_list_price
         FROM {web_sales} web_sales, {date_dim} date_dim
         WHERE ws_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 1999 + 2) sq2)
SELECT channel, i_brand_id, i_class_id, i_category_id,
       ROUND(CAST(SUM(sales) AS DOUBLE), 2) AS sum_sales,
       CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales
FROM (SELECT 'store' channel, i_brand_id, i_class_id, i_category_id,
             SUM(ss_quantity * ss_list_price) sales,
             COUNT(*) number_sales
      FROM {store_sales} store_sales, {item} item, {date_dim} date_dim
      WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
        AND d_year = 1999 + 2 AND d_moy = 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(ss_quantity * ss_list_price) >
          (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'catalog' channel, i_brand_id, i_class_id, i_category_id,
             SUM(cs_quantity * cs_list_price) sales, COUNT(*) number_sales
      FROM {catalog_sales} catalog_sales, {item} item, {date_dim} date_dim
      WHERE cs_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
        AND d_year = 1999 + 2 AND d_moy = 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(cs_quantity * cs_list_price) >
          (SELECT average_sales FROM avg_sales)
      UNION ALL
      SELECT 'web' channel, i_brand_id, i_class_id, i_category_id,
             SUM(ws_quantity * ws_list_price) sales, COUNT(*) number_sales
      FROM {web_sales} web_sales, {item} item, {date_dim} date_dim
      WHERE ws_item_sk IN (SELECT ss_item_sk FROM cross_items)
        AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
        AND d_year = 1999 + 2 AND d_moy = 11
      GROUP BY i_brand_id, i_class_id, i_category_id
      HAVING SUM(ws_quantity * ws_list_price) >
          (SELECT average_sales FROM avg_sales)) y
GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
         i_class_id NULLS FIRST, i_category_id NULLS FIRST
LIMIT 100
""")

# q18 — catalog demographics rollup over country/state/county (18.sql)
_tpcds("tpcds_q18", """
SELECT i_item_id, ca_country, ca_state, ca_county,
       AVGR(cs_quantity) AS agg1,
       AVGR(cs_list_price) AS agg2,
       AVGR(cs_coupon_amt) AS agg3,
       AVGR(cs_sales_price) AS agg4,
       AVGR(cs_net_profit) AS agg5,
       AVGR(c_birth_year) AS agg6,
       AVGR(cd1.cd_dep_count) AS agg7
FROM {catalog_sales} catalog_sales, {customer_demographics} cd1,
     {customer_demographics} cd2, {customer} customer,
     {customer_address} customer_address, {date_dim} date_dim, {item} item
WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd1.cd_demo_sk
  AND cs_bill_customer_sk = c_customer_sk
  AND cd1.cd_gender = 'F' AND cd1.cd_education_status = 'Unknown'
  AND c_current_cdemo_sk = cd2.cd_demo_sk
  AND c_current_addr_sk = ca_address_sk
  AND c_birth_month IN (1, 6, 8, 9, 12, 2)
  AND d_year = 1998
  AND ca_state IN ('TN', 'KY', 'GA', 'AL', 'VA', 'NC')
GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
ORDER BY ca_country NULLS FIRST, ca_state NULLS FIRST,
         ca_county NULLS FIRST, i_item_id NULLS FIRST,
         GROUPING(ca_country) NULLS FIRST, GROUPING(ca_state) NULLS FIRST,
         GROUPING(ca_county) NULLS FIRST
LIMIT 100
""")

# q22 — inventory quantity-on-hand rollup (22.sql)
_tpcds("tpcds_q22", """
SELECT i_product_name, i_brand, i_class, i_category,
       CAST(ROUND(CAST(AVG(inv_quantity_on_hand) AS DECIMAL(20,6)), 2)
            AS DOUBLE) AS qoh
FROM {inventory} inventory, {date_dim} date_dim, {item} item
WHERE inv_date_sk = d_date_sk AND inv_item_sk = i_item_sk
  AND d_month_seq BETWEEN 1200 AND 1200 + 11
GROUP BY ROLLUP(i_product_name, i_brand, i_class, i_category)
ORDER BY qoh NULLS FIRST, i_product_name NULLS FIRST, i_brand NULLS FIRST,
         i_class NULLS FIRST, i_category NULLS FIRST
LIMIT 100
""")

# q23 (part 1) — best store customers buying frequent items (23.sql;
# the fixture's (item, day) pairs are unique by construction, so the
# frequency threshold adapts from > 4 to > 0 — the shape is unchanged)
_tpcds("tpcds_q23", """
WITH frequent_ss_items AS MATERIALIZED
  (SELECT itemdesc, i_item_sk item_sk, d_date solddate, COUNT(*) cnt
   FROM {store_sales} store_sales, {date_dim} date_dim,
     (SELECT SUBSTRING(i_item_desc, 1, 30) itemdesc, * FROM {item} item) sq1
   WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
     AND d_year IN (1999, 2000, 2001, 2002)
   GROUP BY itemdesc, i_item_sk, d_date
   HAVING COUNT(*) > 0),
max_store_sales AS
  (SELECT MAX(csales) tpcds_cmax
   FROM (SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) csales
         FROM {store_sales} store_sales, {customer} customer,
              {date_dim} date_dim
         WHERE ss_customer_sk = c_customer_sk
           AND ss_sold_date_sk = d_date_sk
           AND d_year IN (1999, 2000, 2001, 2002)
         GROUP BY c_customer_sk) sq2),
best_ss_customer AS MATERIALIZED
  (SELECT c_customer_sk, SUM(ss_quantity * ss_sales_price) ssales
   FROM {store_sales} store_sales, {customer} customer,
        max_store_sales
   WHERE ss_customer_sk = c_customer_sk
   GROUP BY c_customer_sk
   HAVING SUM(ss_quantity * ss_sales_price) > (50 / 100.0) * MAX(tpcds_cmax))
SELECT c_last_name, c_first_name,
       ROUND(CAST(sales AS DOUBLE), 2) AS sales
FROM (SELECT c_last_name, c_first_name,
             SUM(cs_quantity * cs_list_price) sales
      FROM {catalog_sales} catalog_sales, {customer} customer,
           {date_dim} date_dim, best_ss_customer
      WHERE d_year = 2000 AND d_moy = 2
        AND cs_sold_date_sk = d_date_sk
        AND cs_bill_customer_sk = best_ss_customer.c_customer_sk
        AND cs_bill_customer_sk = customer.c_customer_sk
        AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
      GROUP BY c_last_name, c_first_name
      UNION ALL
      SELECT c_last_name, c_first_name,
             SUM(ws_quantity * ws_list_price) sales
      FROM {web_sales} web_sales, {customer} customer,
           {date_dim} date_dim, best_ss_customer
      WHERE d_year = 2000 AND d_moy = 2
        AND ws_bill_customer_sk = best_ss_customer.c_customer_sk
        AND ws_sold_date_sk = d_date_sk
        AND ws_bill_customer_sk = customer.c_customer_sk
        AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
      GROUP BY c_last_name, c_first_name) sq3
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         sales NULLS FIRST
LIMIT 100
""")

# q24 (part 1) — store-return customers by color, zip-matched stores
# (24.sql; i_color adapted to the fixture palette)
_tpcds("tpcds_q24", """
WITH ssales AS
  (SELECT c_last_name, c_first_name, s_store_name, ca_state, s_state,
          i_color, i_current_price, i_manager_id, i_units, i_size,
          SUM(ss_net_paid) netpaid
   FROM {store_sales} store_sales, {store_returns} store_returns,
        {store} store, {item} item, {customer} customer,
        {customer_address} customer_address
   WHERE ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
     AND ss_customer_sk = c_customer_sk AND ss_item_sk = i_item_sk
     AND ss_store_sk = s_store_sk AND c_current_addr_sk = ca_address_sk
     AND c_birth_country <> UPPER(ca_country) AND s_zip = ca_zip
     AND s_market_id = 8
   GROUP BY c_last_name, c_first_name, s_store_name, ca_state, s_state,
            i_color, i_current_price, i_manager_id, i_units, i_size)
SELECT c_last_name, c_first_name, s_store_name,
       ROUND(CAST(SUM(netpaid) AS DOUBLE), 2) AS paid
FROM ssales
WHERE i_color = 'powder'
GROUP BY c_last_name, c_first_name, s_store_name
HAVING SUM(netpaid) > (SELECT 0.05 * AVG(netpaid) FROM ssales)
ORDER BY c_last_name, c_first_name, s_store_name
""")

# q33 — manufacturer sales across three channels for one category (33.sql)
_tpcds("tpcds_q33", """
WITH ss AS
  (SELECT i_manufact_id, SUM(ss_ext_sales_price) total_sales
   FROM {store_sales} store_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_manufact_id IN (SELECT i_manufact_id FROM {item} item
                           WHERE i_category IN ('category#3'))
     AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 5 AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id),
cs AS
  (SELECT i_manufact_id, SUM(cs_ext_sales_price) total_sales
   FROM {catalog_sales} catalog_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_manufact_id IN (SELECT i_manufact_id FROM {item} item
                           WHERE i_category IN ('category#3'))
     AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 5 AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id),
ws AS
  (SELECT i_manufact_id, SUM(ws_ext_sales_price) total_sales
   FROM {web_sales} web_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_manufact_id IN (SELECT i_manufact_id FROM {item} item
                           WHERE i_category IN ('category#3'))
     AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 5 AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id)
SELECT i_manufact_id,
       ROUND(CAST(SUM(total_sales) AS DOUBLE), 2) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
      UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_manufact_id
ORDER BY total_sales, i_manufact_id
LIMIT 100
""")

# q35 — demographic census with min/max/avg dependents (35.sql)
_tpcds("tpcds_q35", """
SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count,
       COUNT(*) cnt1, MIN(cd_dep_count) min1, MAX(cd_dep_count) max1,
       AVGR(cd_dep_count) AS avg1,
       cd_dep_employed_count,
       COUNT(*) cnt2, MIN(cd_dep_employed_count) min2,
       MAX(cd_dep_employed_count) max2,
       AVGR(cd_dep_employed_count) AS avg2,
       cd_dep_college_count,
       COUNT(*) cnt3, MIN(cd_dep_college_count) min3,
       MAX(cd_dep_college_count) max3,
       AVGR(cd_dep_college_count) AS avg3
FROM {customer} c, {customer_address} ca,
     {customer_demographics} customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT * FROM {store_sales} store_sales, {date_dim} date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk AND d_year = 2002
                AND d_qoy < 4)
  AND (EXISTS (SELECT * FROM {web_sales} web_sales, {date_dim} date_dim
               WHERE c.c_customer_sk = ws_bill_customer_sk
                 AND ws_sold_date_sk = d_date_sk AND d_year = 2002
                 AND d_qoy < 4)
       OR EXISTS (SELECT * FROM {catalog_sales} catalog_sales,
                       {date_dim} date_dim
                  WHERE c.c_customer_sk = cs_ship_customer_sk
                    AND cs_sold_date_sk = d_date_sk AND d_year = 2002
                    AND d_qoy < 4))
GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
ORDER BY ca_state NULLS FIRST, cd_gender NULLS FIRST,
         cd_marital_status NULLS FIRST, cd_dep_count NULLS FIRST,
         cd_dep_employed_count NULLS FIRST, cd_dep_college_count NULLS FIRST
LIMIT 100
""")

# q38 — customers active in all three channels (38.sql)
_tpcds("tpcds_q38", """
SELECT COUNT(*) AS cnt
FROM (SELECT DISTINCT c_last_name, c_first_name, d_date
      FROM {store_sales} store_sales, {date_dim} date_dim,
           {customer} customer
      WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
        AND store_sales.ss_customer_sk = customer.c_customer_sk
        AND d_month_seq BETWEEN 1200 AND 1200 + 11
      INTERSECT
      SELECT DISTINCT c_last_name, c_first_name, d_date
      FROM {catalog_sales} catalog_sales, {date_dim} date_dim,
           {customer} customer
      WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        AND d_month_seq BETWEEN 1200 AND 1200 + 11
      INTERSECT
      SELECT DISTINCT c_last_name, c_first_name, d_date
      FROM {web_sales} web_sales, {date_dim} date_dim, {customer} customer
      WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
        AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
        AND d_month_seq BETWEEN 1200 AND 1200 + 11) hot_cust
LIMIT 100
""")

# q39 (part 1) — inventory coefficient-of-variation month pairs (39.sql)
_tpcds("tpcds_q39", """
WITH inv AS
  (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
          CASE mean WHEN 0 THEN NULL ELSE stdev / mean END cov
   FROM (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
                STDDEV_SAMP(inv_quantity_on_hand) * 1.000 stdev,
                AVG(inv_quantity_on_hand) mean
         FROM {inventory} inventory, {item} item, {warehouse} warehouse,
              {date_dim} date_dim
         WHERE inv_item_sk = i_item_sk
           AND inv_warehouse_sk = w_warehouse_sk
           AND inv_date_sk = d_date_sk AND d_year = 2001
         GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
   WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 1)
SELECT inv1.w_warehouse_sk wsk1, inv1.i_item_sk isk1, inv1.d_moy dmoy1,
       CAST(ROUND(CAST(inv1.mean AS DECIMAL(20,6)), 3) AS DOUBLE) mean1,
       CAST(ROUND(CAST(inv1.cov AS DECIMAL(20,6)), 3) AS DOUBLE) cov1,
       inv2.w_warehouse_sk AS wsk2, inv2.i_item_sk AS isk2,
       inv2.d_moy AS dmoy2,
       CAST(ROUND(CAST(inv2.mean AS DECIMAL(20,6)), 3) AS DOUBLE) AS mean2,
       CAST(ROUND(CAST(inv2.cov AS DECIMAL(20,6)), 3) AS DOUBLE) AS cov2
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1 AND inv2.d_moy = 1 + 1
ORDER BY inv1.w_warehouse_sk NULLS FIRST, inv1.i_item_sk NULLS FIRST,
         inv1.d_moy NULLS FIRST, mean1 NULLS FIRST, cov1 NULLS FIRST,
         inv2.d_moy NULLS FIRST, mean2 NULLS FIRST, cov2 NULLS FIRST
""")

# q44 — best/worst performing items by store profit rank (44.sql)
_tpcds("tpcds_q44", """
SELECT asceding.rnk, i1.i_product_name best_performing,
       i2.i_product_name worst_performing
FROM (SELECT * FROM (SELECT item_sk, RANK() OVER (ORDER BY rank_col ASC,
                         item_sk ASC) rnk
                     FROM (SELECT ss_item_sk item_sk,
                                  AVG(ss_net_profit) rank_col
                           FROM {store_sales} ss1 WHERE ss_store_sk = 4
                           GROUP BY ss_item_sk
                           HAVING AVG(ss_net_profit) > 0.9 *
                               (SELECT AVG(ss_net_profit) rank_col
                                FROM {store_sales} store_sales
                                WHERE ss_store_sk = 4
                                  AND ss_addr_sk IS NULL
                                GROUP BY ss_store_sk)) V1) V11
      WHERE rnk < 11) asceding,
     (SELECT * FROM (SELECT item_sk, RANK() OVER (ORDER BY rank_col DESC,
                         item_sk ASC) rnk
                     FROM (SELECT ss_item_sk item_sk,
                                  AVG(ss_net_profit) rank_col
                           FROM {store_sales} ss1 WHERE ss_store_sk = 4
                           GROUP BY ss_item_sk
                           HAVING AVG(ss_net_profit) > 0.9 *
                               (SELECT AVG(ss_net_profit) rank_col
                                FROM {store_sales} store_sales
                                WHERE ss_store_sk = 4
                                  AND ss_addr_sk IS NULL
                                GROUP BY ss_store_sk)) V2) V21
      WHERE rnk < 11) descending,
     {item} i1, {item} i2
WHERE asceding.rnk = descending.rnk
  AND i1.i_item_sk = asceding.item_sk
  AND i2.i_item_sk = descending.item_sk
ORDER BY asceding.rnk, i1.i_product_name DESC, i2.i_product_name DESC
LIMIT 100
""")

# q49 — worst return ratios by channel (49.sql; the 10000-amount floor
# adapted to the fixture's 1..501 return-amount range)
_tpcds("tpcds_q49", """
SELECT channel, item, return_ratio, return_rank, currency_rank
FROM
  (SELECT 'web' AS channel, web.item, web.return_ratio, web.return_rank,
          web.currency_rank
   FROM (SELECT item, return_ratio, currency_ratio,
                RANK() OVER (ORDER BY return_ratio, item) AS return_rank,
                RANK() OVER (ORDER BY currency_ratio, item) AS currency_rank
         FROM (SELECT ws.ws_item_sk AS item,
                      ROUND(CAST(SUM(COALESCE(wr.wr_return_quantity, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(ws.ws_quantity, 0))
                                   AS DOUBLE), 6) AS return_ratio,
                      ROUND(CAST(SUM(COALESCE(wr.wr_return_amt, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(ws.ws_net_paid, 0))
                                   AS DOUBLE), 6) AS currency_ratio
               FROM {web_sales} ws
               LEFT OUTER JOIN {web_returns} wr
                 ON (ws.ws_order_number = wr.wr_order_number
                     AND ws.ws_item_sk = wr.wr_item_sk),
                    {date_dim} date_dim
               WHERE wr.wr_return_amt > 100 AND ws.ws_net_profit > 1
                 AND ws.ws_net_paid > 0 AND ws.ws_quantity > 0
                 AND ws_sold_date_sk = d_date_sk AND d_year = 2001
                 AND d_moy = 12
               GROUP BY ws.ws_item_sk) in_web) web
   WHERE (web.return_rank <= 10 OR web.currency_rank <= 10)
   UNION
   SELECT 'catalog' AS channel, catalog.item, catalog.return_ratio,
          catalog.return_rank, catalog.currency_rank
   FROM (SELECT item, return_ratio, currency_ratio,
                RANK() OVER (ORDER BY return_ratio, item) AS return_rank,
                RANK() OVER (ORDER BY currency_ratio, item) AS currency_rank
         FROM (SELECT cs.cs_item_sk AS item,
                      ROUND(CAST(SUM(COALESCE(cr.cr_return_quantity, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(cs.cs_quantity, 0))
                                   AS DOUBLE), 6) AS return_ratio,
                      ROUND(CAST(SUM(COALESCE(cr.cr_return_amount, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(cs.cs_net_paid, 0))
                                   AS DOUBLE), 6) AS currency_ratio
               FROM {catalog_sales} cs
               LEFT OUTER JOIN {catalog_returns} cr
                 ON (cs.cs_order_number = cr.cr_order_number
                     AND cs.cs_item_sk = cr.cr_item_sk),
                    {date_dim} date_dim
               WHERE cr.cr_return_amount > 100 AND cs.cs_net_profit > 1
                 AND cs.cs_net_paid > 0 AND cs.cs_quantity > 0
                 AND cs_sold_date_sk = d_date_sk AND d_year = 2001
                 AND d_moy = 12
               GROUP BY cs.cs_item_sk) in_cat) catalog
   WHERE (catalog.return_rank <= 10 OR catalog.currency_rank <= 10)
   UNION
   SELECT 'store' AS channel, store.item, store.return_ratio,
          store.return_rank, store.currency_rank
   FROM (SELECT item, return_ratio, currency_ratio,
                RANK() OVER (ORDER BY return_ratio, item) AS return_rank,
                RANK() OVER (ORDER BY currency_ratio, item) AS currency_rank
         FROM (SELECT sts.ss_item_sk AS item,
                      ROUND(CAST(SUM(COALESCE(sr.sr_return_quantity, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(sts.ss_quantity, 0))
                                   AS DOUBLE), 6) AS return_ratio,
                      ROUND(CAST(SUM(COALESCE(sr.sr_return_amt, 0))
                                 AS DOUBLE)
                            / CAST(SUM(COALESCE(sts.ss_net_paid, 0))
                                   AS DOUBLE), 6) AS currency_ratio
               FROM {store_sales} sts
               LEFT OUTER JOIN {store_returns} sr
                 ON (sts.ss_ticket_number = sr.sr_ticket_number
                     AND sts.ss_item_sk = sr.sr_item_sk),
                    {date_dim} date_dim
               WHERE sr.sr_return_amt > 100 AND sts.ss_net_profit > 1
                 AND sts.ss_net_paid > 0 AND sts.ss_quantity > 0
                 AND ss_sold_date_sk = d_date_sk AND d_year = 2001
                 AND d_moy = 12
               GROUP BY sts.ss_item_sk) in_store) store
   WHERE (store.return_rank <= 10 OR store.currency_rank <= 10)) sq1
ORDER BY 1 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST, 2 NULLS FIRST
LIMIT 100
""")

# q54 — revenue segments of cross-channel category buyers (54.sql)
_tpcds("tpcds_q54", """
WITH my_customers AS
  (SELECT DISTINCT c_customer_sk, c_current_addr_sk
   FROM (SELECT cs_sold_date_sk sold_date_sk,
                cs_bill_customer_sk customer_sk, cs_item_sk item_sk
         FROM {catalog_sales} catalog_sales
         UNION ALL
         SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
         FROM {web_sales} web_sales) cs_or_ws_sales,
        {item} item, {date_dim} date_dim, {customer} customer
   WHERE sold_date_sk = d_date_sk AND item_sk = i_item_sk
     -- reference also constrains i_class; the fixture's class#5-in-
     -- category#2 customers never shop at a county/state-matched store,
     -- which empties the differential — category alone keeps the
     -- cross-channel + geo-correlated shape AND non-empty results
     AND i_category = 'category#2'
     AND c_customer_sk = cs_or_ws_sales.customer_sk
     AND d_moy = 12 AND d_year = 1998),
my_revenue AS
  (SELECT c_customer_sk, SUM(ss_ext_sales_price) AS revenue
   FROM my_customers, {store_sales} store_sales,
        {customer_address} customer_address, {store} store,
        {date_dim} date_dim
   WHERE c_current_addr_sk = ca_address_sk AND ca_county = s_county
     AND ca_state = s_state AND ss_sold_date_sk = d_date_sk
     AND c_customer_sk = ss_customer_sk
     AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
                              FROM {date_dim} date_dim
                              WHERE d_year = 1998 AND d_moy = 12)
                         AND (SELECT DISTINCT d_month_seq + 3
                              FROM {date_dim} date_dim
                              WHERE d_year = 1998 AND d_moy = 12)
   GROUP BY c_customer_sk),
segments AS
  (SELECT CAST(ROUND(revenue / 50) AS INT) AS segment FROM my_revenue)
SELECT segment, COUNT(*) AS num_customers, segment * 50 AS segment_base
FROM segments
GROUP BY segment
ORDER BY segment NULLS FIRST, num_customers NULLS FIRST, segment_base
LIMIT 100
""")

# q56 — item sales across three channels by color slice (56.sql; colors
# from the fixture palette)
_tpcds("tpcds_q56", """
WITH ss AS
  (SELECT i_item_id, SUM(ss_ext_sales_price) total_sales
   FROM {store_sales} store_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_color IN ('powder', 'khaki', 'brown'))
     AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
     AND d_year = 2001 AND d_moy = 2 AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
cs AS
  (SELECT i_item_id, SUM(cs_ext_sales_price) total_sales
   FROM {catalog_sales} catalog_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_color IN ('powder', 'khaki', 'brown'))
     AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
     AND d_year = 2001 AND d_moy = 2 AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
ws AS
  (SELECT i_item_id, SUM(ws_ext_sales_price) total_sales
   FROM {web_sales} web_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_color IN ('powder', 'khaki', 'brown'))
     AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
     AND d_year = 2001 AND d_moy = 2 AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id)
SELECT i_item_id, ROUND(CAST(SUM(total_sales) AS DOUBLE), 2) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
      UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY total_sales NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100
""")

# q58 — items with balanced revenue across all three channels in one
# week (58.sql)
_tpcds("tpcds_q58", """
WITH ss_items AS
  (SELECT i_item_id item_id, SUM(ss_ext_sales_price) ss_item_rev
   FROM {store_sales} store_sales, {item} item, {date_dim} date_dim
   WHERE ss_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq = (SELECT d_week_seq
                                        FROM {date_dim} date_dim
                                        WHERE d_date = '2000-01-03'))
     AND ss_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
cs_items AS
  (SELECT i_item_id item_id, SUM(cs_ext_sales_price) cs_item_rev
   FROM {catalog_sales} catalog_sales, {item} item, {date_dim} date_dim
   WHERE cs_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq = (SELECT d_week_seq
                                        FROM {date_dim} date_dim
                                        WHERE d_date = '2000-01-03'))
     AND cs_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
ws_items AS
  (SELECT i_item_id item_id, SUM(ws_ext_sales_price) ws_item_rev
   FROM {web_sales} web_sales, {item} item, {date_dim} date_dim
   WHERE ws_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq = (SELECT d_week_seq
                                        FROM {date_dim} date_dim
                                        WHERE d_date = '2000-01-03'))
     AND ws_sold_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT ss_items.item_id,
       ROUND(CAST(ss_item_rev AS DOUBLE), 2) AS ss_item_rev,
       ROUND(CAST(ss_item_rev AS DOUBLE)
             / CAST((ss_item_rev + cs_item_rev + ws_item_rev) / 3
                    AS DOUBLE) * 100, 4) AS ss_dev,
       ROUND(CAST(cs_item_rev AS DOUBLE), 2) AS cs_item_rev,
       ROUND(CAST(cs_item_rev AS DOUBLE)
             / CAST((ss_item_rev + cs_item_rev + ws_item_rev) / 3
                    AS DOUBLE) * 100, 4) AS cs_dev,
       ROUND(CAST(ws_item_rev AS DOUBLE), 2) AS ws_item_rev,
       ROUND(CAST(ws_item_rev AS DOUBLE)
             / CAST((ss_item_rev + cs_item_rev + ws_item_rev) / 3
                    AS DOUBLE) * 100, 4) AS ws_dev,
       ROUND(CAST((ss_item_rev + cs_item_rev + ws_item_rev) / 3
                  AS DOUBLE), 2) AS average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  -- reference band is 0.9..1.1; the fixture's channel revenues differ by
  -- up to 20x (measured 0.08..2.3 ss/cs), so that band is always empty —
  -- 0.05..3 keeps the six-way band-join shape AND a non-empty differential
  AND ss_item_rev BETWEEN 0.05 * cs_item_rev AND 3 * cs_item_rev
  AND ss_item_rev BETWEEN 0.05 * ws_item_rev AND 3 * ws_item_rev
  AND cs_item_rev BETWEEN 0.05 * ss_item_rev AND 3 * ss_item_rev
  AND cs_item_rev BETWEEN 0.05 * ws_item_rev AND 3 * ws_item_rev
  AND ws_item_rev BETWEEN 0.05 * ss_item_rev AND 3 * ss_item_rev
  AND ws_item_rev BETWEEN 0.05 * cs_item_rev AND 3 * cs_item_rev
ORDER BY ss_items.item_id NULLS FIRST, ss_item_rev NULLS FIRST
LIMIT 100
""")

# q60 — item sales across three channels for one category (60.sql)
_tpcds("tpcds_q60", """
WITH ss AS
  (SELECT i_item_id, SUM(ss_ext_sales_price) total_sales
   FROM {store_sales} store_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_category = 'category#5')
     AND ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 9 AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
cs AS
  (SELECT i_item_id, SUM(cs_ext_sales_price) total_sales
   FROM {catalog_sales} catalog_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_category = 'category#5')
     AND cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 9 AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
ws AS
  (SELECT i_item_id, SUM(ws_ext_sales_price) total_sales
   FROM {web_sales} web_sales, {date_dim} date_dim,
        {customer_address} customer_address, {item} item
   WHERE i_item_id IN (SELECT i_item_id FROM {item} item
                       WHERE i_category = 'category#5')
     AND ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
     AND d_year = 1998 AND d_moy = 9 AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id)
SELECT i_item_id, ROUND(CAST(SUM(total_sales) AS DOUBLE), 2) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
      UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY i_item_id, total_sales
LIMIT 100
""")

# q64 — repeat-purchase store/customer address cross-year join (64.sql;
# colors/prices from the fixture cycles)
_tpcds("tpcds_q64", """
WITH cs_ui AS
  (SELECT cs_item_sk,
          SUM(cs_ext_list_price) AS sale,
          SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit)
              AS refund
   FROM {catalog_sales} catalog_sales, {catalog_returns} catalog_returns
   WHERE cs_item_sk = cr_item_sk AND cs_order_number = cr_order_number
   GROUP BY cs_item_sk
   HAVING SUM(cs_ext_list_price) >
       2 * SUM(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
cross_sales AS
  (SELECT i_product_name product_name, i_item_sk item_sk,
          s_store_name store_name, s_zip store_zip,
          ad1.ca_street_number b_street_number,
          ad1.ca_street_name b_street_name, ad1.ca_city b_city,
          ad1.ca_zip b_zip, ad2.ca_street_number c_street_number,
          ad2.ca_street_name c_street_name, ad2.ca_city c_city,
          ad2.ca_zip c_zip, d1.d_year AS syear, d2.d_year AS fsyear,
          d3.d_year s2year, COUNT(*) cnt,
          SUM(ss_wholesale_cost) s1, SUM(ss_list_price) s2,
          SUM(ss_coupon_amt) s3
   FROM {store_sales} store_sales, {store_returns} store_returns, cs_ui,
        {date_dim} d1, {date_dim} d2, {date_dim} d3, {store} store,
        {customer} customer, {customer_demographics} cd1,
        {customer_demographics} cd2, {promotion} promotion,
        {household_demographics} hd1, {household_demographics} hd2,
        {customer_address} ad1, {customer_address} ad2,
        {income_band} ib1, {income_band} ib2, {item} item
   WHERE ss_store_sk = s_store_sk AND ss_sold_date_sk = d1.d_date_sk
     AND ss_customer_sk = c_customer_sk AND ss_cdemo_sk = cd1.cd_demo_sk
     AND ss_hdemo_sk = hd1.hd_demo_sk AND ss_addr_sk = ad1.ca_address_sk
     AND ss_item_sk = i_item_sk AND ss_item_sk = sr_item_sk
     AND ss_ticket_number = sr_ticket_number
     AND ss_item_sk = cs_ui.cs_item_sk
     AND c_current_cdemo_sk = cd2.cd_demo_sk
     AND c_current_hdemo_sk = hd2.hd_demo_sk
     AND c_current_addr_sk = ad2.ca_address_sk
     AND c_first_sales_date_sk = d2.d_date_sk
     AND c_first_shipto_date_sk = d3.d_date_sk
     AND ss_promo_sk = p_promo_sk
     AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
     AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
     AND cd1.cd_marital_status <> cd2.cd_marital_status
     AND i_color IN ('powder', 'khaki', 'brown', 'honeydew', 'floral',
                     'deep')
     AND i_current_price BETWEEN 10 AND 10 + 40
     AND i_current_price BETWEEN 10 + 1 AND 10 + 45
   GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
            ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city,
            ad1.ca_zip, ad2.ca_street_number, ad2.ca_street_name,
            ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
       cs1.b_street_number, cs1.b_street_name, cs1.b_city, cs1.b_zip,
       cs1.c_street_number, cs1.c_street_name, cs1.c_city, cs1.c_zip,
       cs1.syear cs1syear, cs1.cnt cs1cnt,
       ROUND(CAST(cs1.s1 AS DOUBLE), 2) AS s11,
       ROUND(CAST(cs1.s2 AS DOUBLE), 2) AS s21,
       ROUND(CAST(cs1.s3 AS DOUBLE), 2) AS s31,
       ROUND(CAST(cs2.s1 AS DOUBLE), 2) AS s12,
       ROUND(CAST(cs2.s2 AS DOUBLE), 2) AS s22,
       ROUND(CAST(cs2.s3 AS DOUBLE), 2) AS s32,
       cs2.syear AS syear2, cs2.cnt AS cnt2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk AND cs1.syear = 1999
  AND cs2.syear = 1999 + 1 AND cs2.cnt <= cs1.cnt
  AND cs1.store_name = cs2.store_name AND cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name, cs1.store_name, cnt2, s11, s12
""")

# q67 — top items per category over a full rollup (67.sql)
_tpcds("tpcds_q67", """
SELECT *
FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
             d_moy, s_store_id, sumsales,
             RANK() OVER (PARTITION BY i_category
                          ORDER BY sumsales DESC, i_class NULLS FIRST,
                                   i_brand NULLS FIRST,
                                   i_product_name NULLS FIRST,
                                   d_year NULLS FIRST, d_qoy NULLS FIRST,
                                   d_moy NULLS FIRST,
                                   s_store_id NULLS FIRST) rk
      FROM (SELECT i_category, i_class, i_brand, i_product_name, d_year,
                   d_qoy, d_moy, s_store_id,
                   ROUND(CAST(SUM(COALESCE(ss_sales_price * ss_quantity,
                                           0)) AS DOUBLE), 2) sumsales
            FROM {store_sales} store_sales, {date_dim} date_dim,
                 {store} store, {item} item
            WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
              AND ss_store_sk = s_store_sk
              AND d_month_seq BETWEEN 1200 AND 1200 + 11
            GROUP BY ROLLUP(i_category, i_class, i_brand, i_product_name,
                            d_year, d_qoy, d_moy, s_store_id)) dw1) dw2
WHERE rk <= 100
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST,
         i_product_name NULLS FIRST, d_year NULLS FIRST, d_qoy NULLS FIRST,
         d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales NULLS FIRST,
         rk NULLS FIRST
LIMIT 100
""")

# q70 — state/county profit rollup ranked within hierarchy (70.sql)
_tpcds("tpcds_q70", """
SELECT ROUND(CAST(SUM(ss_net_profit) AS DOUBLE), 2) AS total_sum,
       s_state, s_county,
       GROUPING(s_state) + GROUPING(s_county) AS lochierarchy,
       RANK() OVER (PARTITION BY GROUPING(s_state) + GROUPING(s_county),
                        CASE WHEN GROUPING(s_county) = 0 THEN s_state END
                    ORDER BY SUM(ss_net_profit) DESC,
                             s_state NULLS FIRST, s_county NULLS FIRST)
           AS rank_within_parent
FROM {store_sales} store_sales, {date_dim} d1, {store} store
WHERE d1.d_month_seq BETWEEN 1200 AND 1200 + 11
  AND d1.d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
  AND s_state IN
      (SELECT s_state
       FROM (SELECT s_state AS s_state,
                    RANK() OVER (PARTITION BY s_state
                                 ORDER BY SUM(ss_net_profit) DESC) AS ranking
             FROM {store_sales} store_sales, {store} store,
                  {date_dim} date_dim
             WHERE d_month_seq BETWEEN 1200 AND 1200 + 11
               AND d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
             GROUP BY s_state) tmp1
       WHERE ranking <= 5)
GROUP BY ROLLUP(s_state, s_county)
ORDER BY lochierarchy DESC,
         CASE WHEN GROUPING(s_state) + GROUPING(s_county) = 0
              THEN s_state END NULLS FIRST,
         rank_within_parent, s_state NULLS FIRST, s_county NULLS FIRST
LIMIT 100
""")

# q71 — brand sales by breakfast/dinner hour across channels (71.sql)
_tpcds("tpcds_q71", """
SELECT i_brand_id brand_id, i_brand brand, t_hour, t_minute,
       ROUND(CAST(SUM(ext_price) AS DOUBLE), 2) AS ext_price
FROM {item} item,
     (SELECT ws_ext_sales_price AS ext_price,
             ws_sold_date_sk AS sold_date_sk, ws_item_sk AS sold_item_sk,
             ws_sold_time_sk AS time_sk
      FROM {web_sales} web_sales, {date_dim} date_dim
      WHERE d_date_sk = ws_sold_date_sk AND d_moy = 11 AND d_year = 1999
      UNION ALL
      SELECT cs_ext_sales_price, cs_sold_date_sk, cs_item_sk,
             cs_sold_time_sk
      FROM {catalog_sales} catalog_sales, {date_dim} date_dim
      WHERE d_date_sk = cs_sold_date_sk AND d_moy = 11 AND d_year = 1999
      UNION ALL
      SELECT ss_ext_sales_price, ss_sold_date_sk, ss_item_sk,
             ss_sold_time_sk
      FROM {store_sales} store_sales, {date_dim} date_dim
      WHERE d_date_sk = ss_sold_date_sk AND d_moy = 11
        AND d_year = 1999) tmp,
     {time_dim} time_dim
WHERE sold_item_sk = i_item_sk AND i_manager_id = 1
  AND time_sk = t_time_sk
  AND (t_meal_time = 'breakfast' OR t_meal_time = 'dinner')
GROUP BY i_brand, i_brand_id, t_hour, t_minute
ORDER BY ext_price DESC NULLS FIRST, i_brand_id NULLS FIRST,
         t_hour NULLS FIRST, t_minute NULLS FIRST
""")

# q72 — catalog orders short on inventory by demographic slice (72.sql)
_tpcds("tpcds_q72", """
SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
       CAST(SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) no_promo,
       CAST(SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) promo,
       COUNT(*) total_cnt
FROM {catalog_sales} catalog_sales
JOIN {inventory} inventory ON (cs_item_sk = inv_item_sk)
JOIN {warehouse} warehouse ON (w_warehouse_sk = inv_warehouse_sk)
JOIN {item} item ON (i_item_sk = cs_item_sk)
JOIN {customer_demographics} customer_demographics
  ON (cs_bill_cdemo_sk = cd_demo_sk)
JOIN {household_demographics} household_demographics
  ON (cs_bill_hdemo_sk = hd_demo_sk)
JOIN {date_dim} d1 ON (cs_sold_date_sk = d1.d_date_sk)
JOIN {date_dim} d2 ON (inv_date_sk = d2.d_date_sk)
JOIN {date_dim} d3 ON (cs_ship_date_sk = d3.d_date_sk)
LEFT OUTER JOIN {promotion} promotion ON (cs_promo_sk = p_promo_sk)
LEFT OUTER JOIN {catalog_returns} catalog_returns
  ON (cr_item_sk = cs_item_sk AND cr_order_number = cs_order_number)
WHERE d1.d_week_seq = d2.d_week_seq
  AND inv_quantity_on_hand < cs_quantity
  AND d3.d_date > d1.d_date + INTERVAL 5 DAY
  AND hd_buy_potential = '>10000' AND d1.d_year = 1999
  AND cd_marital_status = 'D'
GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
ORDER BY total_cnt DESC NULLS FIRST, i_item_desc NULLS FIRST,
         w_warehouse_name NULLS FIRST, d1.d_week_seq NULLS FIRST
LIMIT 100
""")

# q74 — store/web net-paid year-over-year growth (74.sql)
_tpcds("tpcds_q74", """
WITH year_total AS MATERIALIZED
  (SELECT c_customer_id customer_id, c_first_name customer_first_name,
          c_last_name customer_last_name, d_year AS year_,
          SUM(ss_net_paid) year_total, 's' sale_type
   FROM {customer} customer, {store_sales} store_sales, {date_dim} date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2001 + 1)
   GROUP BY c_customer_id, c_first_name, c_last_name, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, d_year,
          SUM(ws_net_paid), 'w' sale_type
   FROM {customer} customer, {web_sales} web_sales, {date_dim} date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
     AND d_year IN (2001, 2001 + 1)
   GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.year_ = 2001 AND t_s_secyear.year_ = 2001 + 1
  AND t_w_firstyear.year_ = 2001 AND t_w_secyear.year_ = 2001 + 1
  AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE NULL END
      > CASE WHEN t_s_firstyear.year_total > 0
             THEN t_s_secyear.year_total / t_s_firstyear.year_total
             ELSE NULL END
ORDER BY 1 NULLS FIRST
LIMIT 100
""")

# q78 — store sales with no returns vs other channels (78.sql)
_tpcds("tpcds_q78", """
WITH ws AS
  (SELECT d_year AS ws_sold_year, ws_item_sk,
          ws_bill_customer_sk ws_customer_sk,
          SUM(ws_quantity) ws_qty, SUM(ws_wholesale_cost) ws_wc,
          SUM(ws_sales_price) ws_sp
   FROM {web_sales} web_sales
   LEFT JOIN {web_returns} web_returns
     ON wr_order_number = ws_order_number AND ws_item_sk = wr_item_sk
   JOIN {date_dim} date_dim ON ws_sold_date_sk = d_date_sk
   WHERE wr_order_number IS NULL
   GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
cs AS
  (SELECT d_year AS cs_sold_year, cs_item_sk,
          cs_bill_customer_sk cs_customer_sk,
          SUM(cs_quantity) cs_qty, SUM(cs_wholesale_cost) cs_wc,
          SUM(cs_sales_price) cs_sp
   FROM {catalog_sales} catalog_sales
   LEFT JOIN {catalog_returns} catalog_returns
     ON cr_order_number = cs_order_number AND cs_item_sk = cr_item_sk
   JOIN {date_dim} date_dim ON cs_sold_date_sk = d_date_sk
   WHERE cr_order_number IS NULL
   GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
ss AS
  (SELECT d_year AS ss_sold_year, ss_item_sk, ss_customer_sk,
          SUM(ss_quantity) ss_qty, SUM(ss_wholesale_cost) ss_wc,
          SUM(ss_sales_price) ss_sp
   FROM {store_sales} store_sales
   LEFT JOIN {store_returns} store_returns
     ON sr_ticket_number = ss_ticket_number AND ss_item_sk = sr_item_sk
   JOIN {date_dim} date_dim ON ss_sold_date_sk = d_date_sk
   WHERE sr_ticket_number IS NULL
   GROUP BY d_year, ss_item_sk, ss_customer_sk)
SELECT ss_sold_year, ss_item_sk, ss_customer_sk,
       ROUND(CAST(ss_qty AS DOUBLE)
             / (COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0)), 2) ratio,
       CAST(ss_qty AS BIGINT) store_qty,
       ROUND(CAST(ss_wc AS DOUBLE), 2) AS store_wholesale_cost,
       ROUND(CAST(ss_sp AS DOUBLE), 2) AS store_sales_price,
       CAST(COALESCE(ws_qty, 0) + COALESCE(cs_qty, 0) AS BIGINT)
           other_chan_qty,
       ROUND(CAST(COALESCE(ws_wc, 0) + COALESCE(cs_wc, 0) AS DOUBLE), 2)
           AS other_chan_wholesale_cost,
       ROUND(CAST(COALESCE(ws_sp, 0) + COALESCE(cs_sp, 0) AS DOUBLE), 2)
           AS other_chan_sales_price
FROM ss
LEFT JOIN ws ON (ws_sold_year = ss_sold_year AND ws_item_sk = ss_item_sk
                 AND ws_customer_sk = ss_customer_sk)
LEFT JOIN cs ON (cs_sold_year = ss_sold_year AND cs_item_sk = ss_item_sk
                 AND cs_customer_sk = ss_customer_sk)
WHERE (COALESCE(ws_qty, 0) > 0 OR COALESCE(cs_qty, 0) > 0)
  AND ss_sold_year = 2000
ORDER BY ss_sold_year, ss_item_sk, ss_customer_sk, ss_qty DESC,
         ss_wc DESC, ss_sp DESC, other_chan_qty,
         other_chan_wholesale_cost, other_chan_sales_price, ratio
LIMIT 100
""")

# q81 — catalog returners above 1.2x their state average (81.sql)
_tpcds("tpcds_q81", """
WITH customer_total_return AS
  (SELECT cr_returning_customer_sk AS ctr_customer_sk,
          ca_state AS ctr_state,
          SUM(cr_return_amt_inc_tax) AS ctr_total_return
   FROM {catalog_returns} catalog_returns, {date_dim} date_dim,
        {customer_address} customer_address
   WHERE cr_returned_date_sk = d_date_sk AND d_year = 2000
     AND cr_returning_addr_sk = ca_address_sk
   GROUP BY cr_returning_customer_sk, ca_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
       ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
       ca_location_type,
       ROUND(CAST(ctr_total_return AS DOUBLE), 2) AS ctr_total_return
FROM customer_total_return ctr1, {customer_address} customer_address,
     {customer} customer
WHERE ctr1.ctr_total_return >
    (SELECT AVG(ctr_total_return) * 1.2 FROM customer_total_return ctr2
     WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk AND ca_state = 'GA'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name,
         ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
         ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
         ca_location_type, ctr_total_return
LIMIT 100
""")

# q83 — return quantities across channels for three weeks (83.sql)
_tpcds("tpcds_q83", """
WITH sr_items AS
  (SELECT i_item_id item_id, SUM(sr_return_quantity) sr_item_qty
   FROM {store_returns} store_returns, {item} item, {date_dim} date_dim
   WHERE sr_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq IN
                        (SELECT d_week_seq FROM {date_dim} date_dim
                         WHERE d_date IN ('2000-06-30', '2000-09-27',
                                          '2000-11-17')))
     AND sr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
cr_items AS
  (SELECT i_item_id item_id, SUM(cr_return_quantity) cr_item_qty
   FROM {catalog_returns} catalog_returns, {item} item, {date_dim} date_dim
   WHERE cr_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq IN
                        (SELECT d_week_seq FROM {date_dim} date_dim
                         WHERE d_date IN ('2000-06-30', '2000-09-27',
                                          '2000-11-17')))
     AND cr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
wr_items AS
  (SELECT i_item_id item_id, SUM(wr_return_quantity) wr_item_qty
   FROM {web_returns} web_returns, {item} item, {date_dim} date_dim
   WHERE wr_item_sk = i_item_sk
     AND d_date IN (SELECT d_date FROM {date_dim} date_dim
                    WHERE d_week_seq IN
                        (SELECT d_week_seq FROM {date_dim} date_dim
                         WHERE d_date IN ('2000-06-30', '2000-09-27',
                                          '2000-11-17')))
     AND wr_returned_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT sr_items.item_id, CAST(sr_item_qty AS BIGINT) AS sr_item_qty,
       ROUND(CAST(sr_item_qty AS DOUBLE)
             / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 4)
           sr_dev,
       CAST(cr_item_qty AS BIGINT) AS cr_item_qty,
       ROUND(CAST(cr_item_qty AS DOUBLE)
             / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 4)
           cr_dev,
       CAST(wr_item_qty AS BIGINT) AS wr_item_qty,
       ROUND(CAST(wr_item_qty AS DOUBLE)
             / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 4)
           wr_dev,
       ROUND(CAST(sr_item_qty + cr_item_qty + wr_item_qty AS DOUBLE)
             / 3.0, 4) average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id NULLS FIRST, sr_item_qty NULLS FIRST
LIMIT 100
""")

# q85 — web-return reasons by demographic/address bands (85.sql;
# price/profit bands adapted to the fixture's value ranges)
_tpcds("tpcds_q85", """
SELECT SUBSTRING(r_reason_desc, 1, 20) AS reason,
       AVGR(ws_quantity) AS avg1,
       AVGR(wr_refunded_cash) AS avg2,
       AVGR(wr_fee) AS avg3
FROM {web_sales} web_sales, {web_returns} web_returns,
     {web_page} web_page, {customer_demographics} cd1,
     {customer_demographics} cd2, {customer_address} customer_address,
     {date_dim} date_dim, {reason} reason
WHERE ws_web_page_sk = wp_web_page_sk AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number AND ws_sold_date_sk = d_date_sk
  AND d_year = 2000 AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk AND r_reason_sk = wr_reason_sk
  AND ((cd1.cd_marital_status = 'M'
        AND cd1.cd_marital_status = cd2.cd_marital_status
        AND cd1.cd_education_status = 'Advanced Degree'
        AND cd1.cd_education_status = cd2.cd_education_status
        AND ws_sales_price BETWEEN 30.00 AND 80.00)
       OR (cd1.cd_marital_status = 'S'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'College'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 1.00 AND 50.00)
       OR (cd1.cd_marital_status = 'W'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = '2 yr Degree'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 40.00 AND 81.00))
  AND ((ca_country = 'United States' AND ca_state IN ('TN', 'KY', 'GA')
        AND ws_net_profit BETWEEN 0 AND 50)
       OR (ca_country = 'United States' AND ca_state IN ('AL', 'VA', 'NC')
           AND ws_net_profit BETWEEN 25 AND 75)
       OR (ca_country = 'United States' AND ca_state IN ('SC', 'OH', 'TN')
           AND ws_net_profit BETWEEN -50 AND 25))
GROUP BY r_reason_desc
ORDER BY reason, avg1, avg2, avg3
LIMIT 100
""")

# q87 — store-only customers via chained EXCEPT (87.sql)
_tpcds("tpcds_q87", """
SELECT COUNT(*) AS cnt
FROM ((SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM {store_sales} store_sales, {date_dim} date_dim,
            {customer} customer
       WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
         AND store_sales.ss_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM {catalog_sales} catalog_sales, {date_dim} date_dim,
            {customer} customer
       WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM {web_sales} web_sales, {date_dim} date_dim,
            {customer} customer
       WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
         AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11)) cool_cust
""")

# q91 — call-center losses by demographic slice (91.sql; buy-potential
# pattern adapted to the fixture's value cycle)
_tpcds("tpcds_q91", """
SELECT cc_call_center_id call_center, cc_name call_center_name,
       cc_manager manager,
       ROUND(CAST(SUM(cr_net_loss) AS DOUBLE), 2) AS returns_loss
FROM {call_center} call_center, {catalog_returns} catalog_returns,
     {date_dim} date_dim, {customer} customer,
     {customer_address} customer_address,
     {customer_demographics} customer_demographics,
     {household_demographics} household_demographics
WHERE cr_call_center_sk = cc_call_center_sk
  AND cr_returned_date_sk = d_date_sk
  AND cr_returning_customer_sk = c_customer_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND ca_address_sk = c_current_addr_sk
  AND d_year = 1998 AND d_moy = 11
  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
       OR (cd_marital_status = 'W'
           AND cd_education_status = 'Advanced Degree'))
  AND hd_buy_potential LIKE '>10000%'
  AND ca_gmt_offset = -7
GROUP BY cc_call_center_id, cc_name, cc_manager, cd_marital_status,
         cd_education_status
ORDER BY returns_loss DESC, call_center, cd_marital_status,
         cd_education_status
""")

# q92 — web sales with excess discount vs 1.3x item average (92.sql)
_tpcds("tpcds_q92", """
SELECT ROUND(CAST(SUM(ws_ext_discount_amt) AS DOUBLE), 2)
           AS excess_discount_amount
FROM {web_sales} web_sales, {item} item, {date_dim} date_dim
WHERE i_manufact_id = 350 AND i_item_sk = ws_item_sk
  AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
  AND d_date_sk = ws_sold_date_sk
  AND ws_ext_discount_amt >
      (SELECT 1.3 * AVG(ws_ext_discount_amt)
       FROM {web_sales} web_sales, {date_dim} date_dim
       WHERE ws_item_sk = i_item_sk
         AND d_date BETWEEN '2000-01-27' AND CAST('2000-04-26' AS DATE)
         AND d_date_sk = ws_sold_date_sk)
ORDER BY excess_discount_amount
LIMIT 100
""")

# q97 — store/catalog purchase overlap census (97.sql)
_tpcds("tpcds_q97", """
WITH ssci AS
  (SELECT ss_customer_sk customer_sk, ss_item_sk item_sk
   FROM {store_sales} store_sales, {date_dim} date_dim
   WHERE ss_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 1200 AND 1200 + 11
   GROUP BY ss_customer_sk, ss_item_sk),
csci AS
  (SELECT cs_bill_customer_sk customer_sk, cs_item_sk item_sk
   FROM {catalog_sales} catalog_sales, {date_dim} date_dim
   WHERE cs_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 1200 AND 1200 + 11
   GROUP BY cs_bill_customer_sk, cs_item_sk)
SELECT CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           store_only,
       CAST(SUM(CASE WHEN ssci.customer_sk IS NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) catalog_only,
       CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) store_and_catalog
FROM ssci
FULL OUTER JOIN csci ON (ssci.customer_sk = csci.customer_sk
                         AND ssci.item_sk = csci.item_sk)
LIMIT 100
""")
