"""The CLI stage contract, end to end on tiny hand-built tables.

Every summary-printing stage runs through ``cli.main`` on each input
table once (module fixture). Each run records what the call printed,
which locations it read through ``storage.read_table``, and which RDDs
it left persisted. The tests then check that:

- the printed JSON equals what the test recomputes from the written
  output;
- no stage reads its own ``--output`` back, apart from the two reads
  in ``READS_OUTPUT``;
- no call leaves an RDD persisted.
"""
import contextlib
import io
import json
import os

import numpy as np
import pytest

from apollon_spark import cli, storage
from apollon_spark.ml.dedup import passage_removal_spans
from apollon_spark.pipeline import _params_hash

SCHEMA = ("doc_id string, tokens array<int>, n_tok int, source string, "
          "text string")
PASSAGE = ["--passage-k", "4", "--min-docs", "2"]


def _words(n, seed):
    """Distinct-ish 4-7 letter words, stopword-seasoned: passes the
    Gopher rules at 50-100 words."""
    rng = np.random.default_rng(seed)
    return " ".join(
        ["the", "and", "of", "is"][i % 4] if i % 9 == 0 else
        "".join(chr(97 + c) for c in rng.integers(0, 26,
                                                  int(rng.integers(4, 8))))
        for i in range(n))


def _doc(doc_id, toks, source="web", text="the cat sat on the mat"):
    return (doc_id, toks, len(toks), source, text)


SHARED = [1, 2, 3, 4, 5, 6]
TABLES = {
    "tiny": [
        _doc("d0", SHARED + [7, 8, 9, 10], text=_words(60, 1)),
        _doc("d1", SHARED + [7, 8, 9, 10], text=_words(60, 1)),
        _doc("d2", [40, 41, 42] + SHARED[:5] + [43, 44]),
        _doc("d3", [90, 91, 92, 93, 94, 95, 96], "code", "x = 1  # ok"),
        _doc("d4", [20, 21, 22, 23, 24, 25], "code",
             "mail a@b.io or see https://x.org/p"),
        _doc("d5", [30, 31, 32, 33, 30, 31, 32, 33], "books",
             _words(70, 2)),
        _doc("d6", [1, 2, 3, 50], "books", "short"),
    ],
    "empty": [],
    "one": [_doc("solo", [5, 6, 7, 8, 9], text=_words(60, 3))],
    "short": [_doc("z0", [], text=""), _doc("z1", [7], text="word")],
}
BENCH = [_doc("b0", SHARED + [60, 61]), _doc("b1", [90, 91, 92, 70])]

# (case, argv after --stage); the case name's head is the stage
CASES = [
    ("ingest", []),
    ("ingest_buckets", ["--ingest-buckets", "2"]),
    ("filter", []),
    ("dedup", []),
    ("neardup", ["--threshold", "0.5"]),
    ("cluster", []),
    ("contaminate", ["--benchmark", "BENCH"]),
    ("lmscore", ["--benchmark", "BENCH"]),
    ("passages_spans", ["--emit", "spans"] + PASSAGE),
    ("passages_stats", ["--emit", "stats"] + PASSAGE),
    ("passages_cut", ["--emit", "cut"] + PASSAGE),
    ("passages_cut3", ["--emit", "cut", "--cut-rounds", "3"] + PASSAGE),
    ("sample_rate", ["--rate-hex", "8000"]),
    ("sample_quota", ["--quota", "2"]),
    ("sample_mix", ["--mix-weights", "web:1.5,code:0.5"]),
    ("sample_budget", ["--mix-weights", "web:0.6,code:0.4",
                       "--budget-tokens", "30"]),
    ("pack", ["--ctx-len", "4"]),
    ("pack_salted", ["--ctx-len", "4", "--shuffle-salt", "s1"]),
    ("hmm", ["--resume-buckets", "2"]),
    ("textstats", ["--resume-buckets", "2"]),
    ("scrub", ["--resume-buckets", "2"]),
]
# the one-doc and n_tok in {0, 1} tables run the stages that take any
# docs table (cluster and semdedup have their own degenerate tests)
DEGENERATE = {"filter", "contaminate", "sample_rate", "sample_mix", "pack"}
# the stages that read --output back, each for a stated reason: spans'
# docs_hit needs countDistinct (DISTINCT is not allowed in an observed
# metric), and the single-pass cut's residual probe scans the cut corpus
READS_OUTPUT = {"passages_spans", "passages_cut"}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def run_stages(spark, root):
    """Run every (table, case) through ``cli.main``; returns
    {(table, case): run} with run = dict(inp, out, argv, printed (the
    raw last stdout line, or None), error, reads, leaked)."""
    bench = os.path.join(root, "bench")
    storage.write_table(spark.createDataFrame(BENCH, SCHEMA), bench)
    reads = []
    real_read = storage.read_table

    def spy(sp, location):
        reads.append(location)
        return real_read(sp, location)

    runs = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(storage, "read_table", spy)
        for table, rows in TABLES.items():
            inp = os.path.join(root, table, "in")
            storage.write_table(spark.createDataFrame(rows, SCHEMA), inp)
            for case, extra in CASES:
                if table not in ("tiny", "empty") and case not in DEGENERATE:
                    continue
                out = os.path.join(root, table, case)
                argv = (["--stage", case.split("_")[0], "--input", inp,
                         "--output", out]
                        + [bench if a == "BENCH" else a for a in extra])
                if case == "ingest_buckets":
                    argv += ["--table-name", f"cli_summaries_{table}"]
                reads.clear()
                before, buf, error = _persisted(spark), io.StringIO(), None
                try:
                    with contextlib.redirect_stdout(buf):
                        assert cli.main(argv) == 0
                except Exception as exc:        # noqa: BLE001
                    error = exc
                lines = buf.getvalue().strip().splitlines()
                runs[table, case] = dict(
                    inp=inp, out=out, argv=argv, error=error,
                    printed=lines[-1] if lines else None,
                    reads=list(reads), leaked=_persisted(spark) - before)
    return runs


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    return run_stages(spark, str(tmp_path_factory.mktemp("cli")))


def _arg(argv, flag):
    return argv[argv.index(flag) + 1]


def expected(spark, table, case, run):
    """The summary recomputed from the input rows and the written
    output alone (one collect of the output per run)."""
    out, argv = run["out"], run["argv"]
    stage = case.split("_")[0]
    if stage in ("hmm", "textstats", "scrub"):
        params = ({"m_states": 3} if stage == "hmm"
                  else {"text_col": "text"})
        return {"buckets_done": 2, "buckets_skipped": 0,
                "rows_out": spark.read.parquet(
                    os.path.join(out, stage)).count(),
                "params_hash": _params_hash(
                    {"stage": stage, **params, "n_buckets": 2})}
    pdf = spark.read.parquet(out).toPandas()
    n, rows_in = len(pdf), len(TABLES[table])

    def total(col):
        return int(col.sum())

    if stage == "ingest":
        return {"rows": n}
    if stage in ("dedup", "sample"):
        return {"rows_in": rows_in, "rows_out": n}
    if stage == "neardup":
        return {"pairs": n}
    if stage == "filter":
        kept = total(pdf["keep"])
        return {"docs": n, "kept": kept, "dropped": n - kept}
    if stage == "cluster":
        return {"docs": n, "kept": total(pdf["keep"])}
    if stage == "contaminate":
        return {"docs_scored": n,
                "docs_contaminated": total(pdf["hit_frac"] > 0)}
    if stage == "lmscore":
        lp = float((pdf["mean_logp"] * pdf["n_bigrams"]).sum())
        return {"docs": n, "docs_scored": total(pdf["n_bigrams"] > 0),
                "corpus_mean_logp": round(
                    lp / max(total(pdf["n_bigrams"]), 1), 6)}
    if stage == "pack":
        return {"n_seqs": n, "n_tokens": total(pdf["n_tok"]),
                "ctx_len": int(_arg(argv, "--ctx-len"))}
    if case == "passages_spans":
        return {"span_starts": n, "docs_hit": pdf["doc_id"].nunique()}
    if case == "passages_stats":
        return {"docs": n, "docs_with_dups": total(pdf["n_dup_tokens"] > 0),
                "mean_dup_frac": round(float(pdf["dup_frac"].mean()), 6)
                if n else 0.0}
    residual = passage_removal_spans(
        spark.read.parquet(out).drop("n_removed"), k=4, min_docs=2).count()
    if case == "passages_cut":
        return {"docs": n, "tokens_removed": total(pdf["n_removed"]),
                "rounds": 1, "residual_span_starts": residual}
    assert case == "passages_cut3" and residual == 0
    printed_rounds = json.loads(run["printed"])["rounds"]
    assert printed_rounds <= 3
    tokens_in = sum(r[2] for r in TABLES[table])
    return {"docs": n, "tokens_removed": tokens_in - total(pdf["n_tok"]),
            "rounds": printed_rounds, "residual_span_starts": 0}


def test_every_summary_matches_written_output(spark, runs):
    """Each stage's printed JSON equals the summary recomputed from its
    written output, on the tiny, empty, one-doc and n_tok in {0, 1}
    tables. An empty pack prints n_tokens 0, not null."""
    for (table, case), run in runs.items():
        if case == "sample_budget" and table == "empty":
            # no source supplies tokens: the budget cannot be met
            assert isinstance(run["error"], ValueError), run["error"]
            assert "no ratio mass" in str(run["error"])
            continue
        assert run["error"] is None, (table, case, run["error"])
        printed = json.loads(run["printed"])
        want = expected(spark, table, case, run)
        assert printed == pytest.approx(want, abs=1e-6), (table, case)
        assert list(printed) == list(want), (table, case)


def test_summaries_cover_the_cases(runs):
    """The tiny table exercises each summary with nonzero counts, so a
    stage that printed zeros everywhere would not pass unnoticed."""
    printed = {case: json.loads(run["printed"])
               for (table, case), run in runs.items() if table == "tiny"}
    assert printed["filter"]["kept"] >= 1 and printed["filter"]["dropped"] >= 1
    assert printed["dedup"] == {"rows_in": 7, "rows_out": 6}
    assert printed["neardup"]["pairs"] >= 1
    assert printed["cluster"]["kept"] < printed["cluster"]["docs"] == 7
    assert printed["contaminate"]["docs_contaminated"] >= 1
    assert printed["passages_spans"]["docs_hit"] >= 2
    assert printed["passages_cut"]["tokens_removed"] > 0
    assert printed["pack"]["n_tokens"] == sum(r[2] for r in TABLES["tiny"])
    assert json.loads(runs["empty", "pack"]["printed"]) == {
        "n_seqs": 0, "n_tokens": 0, "ctx_len": 4}


def test_no_stage_reads_its_output_back(runs):
    """A stage's summary comes from its one write; only the two stated
    stages read --output back, once each."""
    for (table, case), run in runs.items():
        n_back = run["reads"].count(run["out"])
        assert n_back == (case in READS_OUTPUT), (table, case, run["reads"])


def test_no_stage_leaves_an_rdd_persisted(runs):
    """cluster, pack and the cut rounds pin RDDs (localCheckpoint); the
    call releases them once its output is written."""
    leaked = {key: run["leaked"] for key, run in runs.items()
              if run["leaked"]}
    assert not leaked


def test_empty_bucketed_ingest_is_a_readable_table(spark, runs, tmp_path):
    """`ingest --ingest-buckets` of an empty table leaves a docs table
    at --output that reads with the input's columns, and a filter run
    on it prints zero counts."""
    run = runs["empty", "ingest_buckets"]
    got = storage.read_table(spark, run["out"])
    assert got.count() == 0
    assert got.columns == storage.read_table(spark, run["inp"]).columns
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli.main(["--stage", "filter", "--input", run["out"],
                         "--output", str(tmp_path / "filtered")]) == 0
    assert json.loads(buf.getvalue().strip().splitlines()[-1]) == {
        "docs": 0, "kept": 0, "dropped": 0}


def test_cli_leaves_the_session_confs(spark, tmp_path):
    """cli.main runs in the caller's live session and leaves the
    session's runtime confs as the caller set them."""
    confs = {"spark.sql.shuffle.partitions": "7",
             "spark.sql.execution.arrow.maxRecordsPerBatch": "48"}
    before = {key: spark.conf.get(key) for key in confs}
    inp = str(tmp_path / "in")
    storage.write_table(spark.createDataFrame(TABLES["one"], SCHEMA), inp)
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        with contextlib.redirect_stdout(io.StringIO()):
            assert cli.main(["--stage", "ingest", "--input", inp,
                             "--output", str(tmp_path / "out")]) == 0
        assert {key: spark.conf.get(key) for key in confs} == confs
    finally:
        for key, val in before.items():
            spark.conf.set(key, val)


def test_default_driver_heap_fits_the_machine(spark):
    """Without SPARK_DRIVER_MEM, get_spark sizes the driver heap to at
    most half the machine's RAM (and at most 48g), so the JVM cannot
    commit more heap than the box has."""
    if "SPARK_DRIVER_MEM" in os.environ:
        pytest.skip("SPARK_DRIVER_MEM sets the heap")
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= min(48, max(1, ram // 1024 ** 3 // 2))


def test_stream_stages_degenerate_corpora(spark, tmp_path):
    """`--stage stream-neardup` and `--stage stream-passages` end to end
    (one availableNow run each, fresh store and checkpoint): the empty,
    one-doc and n_tok in {0, 1} tables print zero counts, and five
    identical 20-token docs print all 10 pairs and all 5 x 13 window
    starts at k = 8."""
    toks = list(range(100, 120))
    tables = {"empty": [], "one": TABLES["one"], "short": TABLES["short"],
              "same5": [_doc(f"s{i}", toks) for i in range(5)]}
    want = {name: ({"pairs": 0}, {"span_starts": 0}) for name in tables}
    want["same5"] = ({"pairs": 10}, {"span_starts": 65})
    got = {}
    for name, rows in tables.items():
        inp = str(tmp_path / name / "in")
        storage.write_table(spark.createDataFrame(rows, SCHEMA), inp)
        printed = []
        for stage in ("stream-neardup", "stream-passages"):
            run = str(tmp_path / name / stage)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                assert cli.main([
                    "--stage", stage, "--input", inp,
                    "--output", os.path.join(run, "out"),
                    "--store", os.path.join(run, "store"),
                    "--checkpoint", os.path.join(run, "ckpt"),
                    "--passage-k", "8"]) == 0
            printed.append(json.loads(buf.getvalue().strip().splitlines()[-1]))
        got[name] = tuple(printed)
    assert got == want
