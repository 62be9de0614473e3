from runs import compare, parse_seeds


def test_parse_seeds_ranges_and_lists():
    assert parse_seeds("3") == [3]
    assert parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert parse_seeds("10-12") == [10, 11, 12]


E2E = [{"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.2},
       {"name": "ops_per_min", "unit": "ops/min", "better": "higher", "bound": 0.25}]


def test_compare_checks_each_metric_against_its_bound():
    before = {"metrics": {"op_p50_s": 1.0, "ops_per_min": 30.0}, "canaries": {"loop": 0.5}}
    now = {"metrics": {"op_p50_s": 1.3, "ops_per_min": 24.0}, "canaries": {"loop": 0.52}}
    lines = compare(now, before, E2E)
    assert "WORSE" in lines[0] and "within" in lines[1]
    assert not any("HOST PHASE" in line for line in lines)


def test_compare_flags_a_host_phase_change():
    before = {"metrics": {"op_p50_s": 1.0}, "canaries": {"loop": 0.4}}
    now = {"metrics": {"op_p50_s": 1.5}, "canaries": {"loop": 0.6}}
    assert any("HOST PHASE DIFFERS: canary loop" in line for line in compare(now, before, E2E))
