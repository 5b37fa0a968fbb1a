import workloads


def oracle_texts():
    return {n: f"SELECT '{n}'" for n in workloads.SQL_SMALL_WARMUP + workloads.SQL_SMALL}


def test_generators_are_deterministic_per_seed():
    for seed in (1, 2, 77):
        assert workloads.sql_small_pass(seed, 0, oracle_texts()) == \
            workloads.sql_small_pass(seed, 0, oracle_texts())
        assert workloads.headline_pass(seed, 1) == workloads.headline_pass(seed, 1)
        assert workloads.dml_pass(seed, 0, "out") == workloads.dml_pass(seed, 0, "out")


def test_seed_changes_order_not_content():
    a = workloads.sql_small_pass(1, 1, oracle_texts())
    b = workloads.sql_small_pass(2, 1, oracle_texts())
    assert [s.name for s in a] != [s.name for s in b]
    assert sorted(s.name for s in a) == sorted(workloads.SQL_SMALL)
    h1, h2 = workloads.headline_pass(1, 1), workloads.headline_pass(2, 1)
    assert sorted(s.name for s in h1) == sorted(s.name for s in h2) == sorted(workloads.HEADLINE)


def test_dml_pass_has_a_fixed_mix_and_seeded_keys():
    passes = [workloads.dml_pass(seed, 1, "out") for seed in range(1, 6)]
    mixes = {tuple(sorted(s.name for s in p)) for p in passes}
    assert len(mixes) == 1
    assert len({tuple(s.text for s in p) for p in passes}) == 5
    for p in passes:
        assert [s.name for s in p[:2]] == ["ctas_orders", "ctas_lineitem"]
        assert len({s.op_id for s in p}) == len(p)



def test_warmup_pass_runs_other_statements():
    warm = {s.name for s in workloads.sql_small_pass(1, 0, oracle_texts())}
    assert warm == set(workloads.SQL_SMALL_WARMUP)
    assert {s.name for s in workloads.headline_pass(1, 0)} == set(workloads.HEADLINE_WARMUP)


def test_lists_are_disjoint_and_sized():
    assert len(set(workloads.SQL_SMALL)) == len(workloads.SQL_SMALL) >= 40
    assert not set(workloads.SQL_SMALL) & set(workloads.SQL_SMALL_EXCLUDED)
    assert not set(workloads.SQL_SMALL) & set(workloads.SQL_SMALL_WARMUP)
    assert not set(workloads.SQL_SMALL_WARMUP) & set(workloads.SQL_SMALL_EXCLUDED)
    assert len(workloads.HEADLINE) == 19
    assert not set(workloads.HEADLINE) & set(workloads.HEADLINE_WARMUP)
