"""The per-gate bench harness: plan fingerprints, the timed set, and
``bench_diff``'s comparability rule."""
import json

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import bench
import bench_diff


def _raw_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_fingerprint_stable_across_builds(spark, sf_dir):
    """extend_energy folds with a lambda, so a second build carries new
    expression ids and a new lambda-variable suffix — the raw plans
    differ, the fingerprints do not."""
    gate = entrymod.queries()["extend_energy"]
    first = gate(spark, sf_dir)
    # an unrelated lambda-using DataFrame advances the fresh-name counter
    spark.range(3).select(
        F.transform(F.array("id"), lambda x: x + 1).alias("t")).collect()
    second = gate(spark, sf_dir)
    assert _raw_plan(first) != _raw_plan(second)
    assert "lambda" in _raw_plan(first)
    assert (bench.plan_fingerprint(first, sf_dir)
            == bench.plan_fingerprint(second, sf_dir))


def test_fingerprint_changes_with_plan(spark, sf_dir):
    df = entrymod.queries()["extend_energy"](spark, sf_dir)
    assert (bench.plan_fingerprint(df, sf_dir)
            != bench.plan_fingerprint(df.where(F.col("seg_idx") > 0),
                                      sf_dir))


def _rec(cpus, gates):
    return {"cpus": cpus, "sf": 0.001,
            "queries": {name: {"median": med, "fingerprint": fp}
                        for name, (med, fp) in gates.items()}}


def test_bench_diff_compares_matched_gates_only(capsys, tmp_path):
    gates = {"g1": (1.0, "f1"), "g2": (2.0, "f2"), "g3": (4.0, "f3")}
    a = _rec(4, gates)
    b = _rec(4, {"g1": (0.5, "f1"), "g2": (1.0, "f2x"), "g3": (3.0, "f3")})
    rows, sub_a, sub_b = bench_diff.diff(a, b)
    assert {r[0]: r[3] for r in rows} == {"g1": "", "g2": "fingerprint",
                                         "g3": ""}
    assert (sub_a, sub_b) == (5.0, 3.5)

    rows, sub_a, sub_b = bench_diff.diff(a, _rec(8, gates))
    assert all(r[3] == "cpus/sf" for r in rows)
    assert (sub_a, sub_b) == (0.0, 0.0)

    # the CLI reads raw bench output and BENCH_rNN.json's `parsed`
    pa, pb = tmp_path / "a.out", tmp_path / "b.json"
    pa.write_text("progress noise\n" + json.dumps(a) + "\n")
    pb.write_text(json.dumps({"n": 6, "parsed": b}))
    bench_diff.main(str(pa), str(pb))
    out = capsys.readouterr().out
    assert "g2" in out and "not comparable (fingerprint)" in out
    assert "subtotal over 2 comparable gates (median s): 5.000 -> 3.500" \
        in out


def test_bench_diff_marks_deltas_inside_the_iqr_as_noise(capsys, tmp_path):
    """A comparable gate whose median moved less than either record's
    iqr prints ``noise``; one that moved further prints its share."""
    def rec(gates):
        return {"cpus": 4, "sf": 0.001,
                "queries": {name: {"median": med, "iqr": iqr,
                                   "fingerprint": name}
                            for name, (med, iqr) in gates.items()}}

    # inside: |1.10 - 1.00| < b's iqr 0.15; outside: |3.00 - 2.00| > 0.2
    a = rec({"inside": (1.00, 0.02), "outside": (2.00, 0.20)})
    b = rec({"inside": (1.10, 0.15), "outside": (3.00, 0.10)})
    rows, sub_a, sub_b = bench_diff.diff(a, b)
    assert {r[0]: r[3] for r in rows} == {"inside": "noise", "outside": ""}
    assert (sub_a, sub_b) == (3.0, 4.1)

    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    bench_diff.main(str(pa), str(pb))
    lines = {ln.split()[0]: ln for ln in capsys.readouterr().out.splitlines()}
    assert lines["inside"].endswith("  noise")
    assert lines["outside"].endswith("  +50.0%")
    assert lines["subtotal"] == ("subtotal over 2 comparable gates "
                                 "(median s): 3.000 -> 4.100; 1 of them "
                                 "noise")


def test_timed_set_is_the_registry(spark, sf_dir, monkeypatch):
    """bench times exactly the registered gates, under their names."""
    names = list(entrymod.queries())
    monkeypatch.setattr(entrymod, "queries",
                        lambda: {n: lambda s, d: s.range(1) for n in names})
    monkeypatch.setenv("BENCH_QUERY_RUNS", "1")
    out = bench.bench_queries(spark, sf_dir)
    assert list(out) == names
    assert all(len(g["fingerprint"]) == 64 and len(g["runs_sec"]) == 1
               for g in out.values())
