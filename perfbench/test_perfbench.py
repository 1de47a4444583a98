"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sqlite3

import pandas as pd

from perfbench import backup, tracing
from perfbench.gen_tables import generate_tables
from perfbench.run import END_TO_END, Outcome
from perfbench.workloads import lane_problems

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _outcome(*records: dict) -> Outcome:
    out = Outcome()
    out.records.extend(records)
    return out


def test_every_printed_metric_is_declared():
    declared = _declared()
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    rec = {"op": "x", "pass": 0, "latency_s": 1.0, "rss_mb": 10.0}
    printed = _outcome(rec, dict(rec, latency_s=2.0)).end_to_end(2.0)
    assert set(printed) == set(e2e) == set(END_TO_END)
    assert all(END_TO_END[k] == e2e[k] for k in printed)
    rollup = tracing.Tracer(None, enabled=False).rollup(passes=1, measured_s=1.0)
    assert set(rollup) == set(layer)
    assert tracing.units() == layer
    assert {w["name"] for w in declared["workloads"]} == {"import_export", "lane_mix"}


def _store_db(tmp_path, n=60):
    a = backup.generate(seed=7, n=n)
    want = backup.expected_store(a)
    path = str(tmp_path / "store.db")
    backup.write_store(want, path)
    return path, want


def _counted(check) -> Outcome:
    out = Outcome()
    out.add_checked({"op": "import_fresh", "pass": 0, "latency_s": 1.0, "rss_mb": 1.0}, check)
    return out


def test_intact_store_passes(tmp_path):
    path, want = _store_db(tmp_path)
    out = _counted(lambda: backup.check_store(path, want))
    assert out.failed == 0 and out.correct


def test_corrupted_store_is_counted_as_failed(tmp_path):
    corruptions = (
        "DELETE FROM parts WHERE _id = (SELECT MAX(_id) FROM parts)",
        "UPDATE messages SET hash = 'x' WHERE _id = 1",
        "UPDATE parts SET message_id = message_id + 1000000 WHERE _id = 1",
        "UPDATE parts SET _id = _id + 1000 WHERE _id > 5",
        "UPDATE parts SET content_type = 'text/html' WHERE _id = 2",
    )
    for sql in corruptions:
        path, want = _store_db(tmp_path)
        con = sqlite3.connect(path)
        con.execute(sql)
        con.commit()
        con.close()
        out = _counted(lambda: backup.check_store(path, want))
        assert out.failed == 1 and not out.correct, sql
        os.remove(path)


def test_missing_store_is_counted_as_failed(tmp_path):
    _, want = _store_db(tmp_path)
    out = _counted(lambda: backup.check_store(str(tmp_path / "absent" / "x.db"), want))
    assert out.failed == 1


def _digest(df: pd.DataFrame) -> dict:
    from tools.selfcheck import normalize, value_hash

    n = normalize(df)
    return {"rows": len(n), "cols": list(n.columns), "hash": value_hash(n)}


def test_lane_digest_match_and_wrong_digest():
    df = pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", "b"]})
    digest = _digest(df)
    assert lane_problems(df.iloc[::-1], digest) == []  # order-insensitive, like the gate
    wrong = dict(digest, hash="0" * 64)
    out = _counted(lambda: lane_problems(df, wrong))
    assert out.failed == 1 and not out.correct
    short = _counted(lambda: lane_problems(df.head(2), digest))
    assert short.failed == 1


def test_raised_operation_is_failed_but_not_wrong(monkeypatch):
    import perfbench.run as run

    monkeypatch.setattr(run, "_reset_peak_rss", lambda: None)
    monkeypatch.setattr(run, "_peak_rss_mb", lambda: 1.0)

    def op():
        raise sqlite3.IntegrityError("UNIQUE constraint failed: parts._id")

    out = Outcome()
    out.run("import_fresh", 0, op)
    assert out.failed == 1 and out.correct
    assert "IntegrityError" in out.records[0]["error"]


def test_inputs_follow_the_seed(tmp_path):
    for name, seed in (("x", 1), ("y", 1), ("z", 2)):
        backup.write_xml(backup.generate(seed, 200), str(tmp_path / f"{name}.xml"))
        generate_tables(seed, 0.001, str(tmp_path / name))
    xml = {n: (tmp_path / f"{n}.xml").read_bytes() for n in "xyz"}
    items = {n: pd.read_parquet(tmp_path / n / "lineitem.parquet") for n in "xyz"}
    assert xml["x"] == xml["y"] and xml["x"] != xml["z"]
    assert items["x"].equals(items["y"]) and not items["x"].equals(items["z"])
