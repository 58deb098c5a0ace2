"""What the harness prints matches BENCHMARK.json, and the creator
generator and its checks behave."""

import datetime as dt
import json
import os
import re

from perfbench import creators, harness, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_printed_metric_is_declared_with_its_unit():
    bench = _bench()
    ops = [op for w in workloads.CATALOG_WORKLOADS.values() for op in w.ops]
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert dict(harness.END_TO_END) == declared_e2e
    assert harness.per_layer_units(ops) == declared_layer
    for name in [*declared_e2e, *declared_layer]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert [w["name"] for w in bench["workloads"]] == list(workloads.NAMES)


def test_generator_is_deterministic_and_checks_catch_a_wrong_value(tmp_path):
    as_of = dt.datetime(2025, 9, 7)
    a, n_a = creators.generate(str(tmp_path / "a"), 40, seed=3, as_of=as_of)
    b, _ = creators.generate(str(tmp_path / "b"), 40, seed=3, as_of=as_of)
    c, n_c = creators.generate(str(tmp_path / "c"), 40, seed=4, as_of=as_of)
    assert a == b and a != c
    assert n_a == n_c  # a seed changes the content, not the volume
    assert 0 < len(a) < 40  # some private profiles are filtered
    rows = [{"username": k, **{f: min(x) if isinstance(x, frozenset) else x
                               for f, x in v.items()}} for k, v in a.items()]
    assert creators.check_report(rows, a) == []
    name = next(iter(a))
    rows[0]["avg_likes"] += 1
    assert creators.check_report(rows, a) == [
        f"{name}.avg_likes: {a[name]['avg_likes'] + 1} != {a[name]['avg_likes']}"]
    assert creators.check_report(rows[1:], a)[0].startswith("report rows")


def test_bround_is_half_even_on_the_decimal_rendering():
    assert creators._bround(2.675, 2) == 2.68  # Python's round gives 2.67
    assert creators._bround(12.5, 0) == 12.0
    assert creators._bround(13.5, 0) == 14.0


def test_fingerprint_ignores_row_order_but_not_values_or_kinds():
    import pandas as pd

    from perfbench.fingerprint import fingerprint

    df = pd.DataFrame({"b": [2, 1, 2, None], "a": ["x", "y", "x|1", None],
                       "c": [0.5, 1e-7, 3.0, float("nan")]})
    assert fingerprint(df) == fingerprint(df.iloc[::-1])
    assert fingerprint(df) == fingerprint(df[["c", "a", "b"]])
    assert fingerprint(df) != fingerprint(df.assign(b=[2, 1, 2, 3]))
    assert fingerprint(df.assign(b=[1, 2, 3, 4])) != fingerprint(df.assign(b=[1.0, 2.0, 3.0, 4.0]))
