"""spark-submit CLI surface: the reference's count/clean/run/eval workflow
driven end to end through `python -m minimel_spark` subcommands."""

import json

import pyspark.sql.functions as F

from minimel_spark.__main__ import main


def test_cli_predict_evaluate_roundtrip(spark, tmp_path):
    """predict: run-TSV texts -> mention detection -> cascade -> reference
    TSV; evaluate: gold TSV vs that TSV -> scores. Mirrors reference
    run.py:141-300 + 59-76."""
    counts = spark.createDataFrame(
        [("acme", 7, 5), ("acme", 8, 1), ("globex", 9, 3)],
        "anchor string, qid long, cnt long",
    )
    counts_path = str(tmp_path / "counts.parquet")
    counts.write.parquet(counts_path)

    gold_tsv = tmp_path / "gold.tsv"
    gold_tsv.write_text(
        'd1\t{"acme": 7, "globex": 9}\tacme bought globex today\n'
        'd2\t{"acme": 8}\tacme was founded long ago\n'
    )
    out = str(tmp_path / "preds")
    rc = main([
        "--master", "local[4]",
        "predict", "--texts", str(gold_tsv), "--counts", counts_path, "--out", out,
    ])
    assert rc == 0
    lines = sorted(
        line
        for part in (tmp_path / "preds").glob("part-*")
        for line in part.read_text().splitlines()
    )
    parsed = {line.split("\t")[0]: json.loads(line.split("\t")[1]) for line in lines}
    # most-common-sense picks qid 7 for 'acme' everywhere (d2's gold is 8)
    assert parsed == {"d1": {"acme": 7, "globex": 9}, "d2": {"acme": 7}}

    rc = main(
        ["--master", "local[4]", "evaluate", "--gold", str(gold_tsv), "--pred", out]
    )
    assert rc == 0


def test_cli_clean_and_embed(spark, tmp_path):
    counts = spark.createDataFrame(
        [("acme", 7, 5), ("acme", 8, 2), ("solo", 1, 9)],
        "anchor string, qid long, cnt long",
    )
    cp = str(tmp_path / "c.parquet")
    counts.write.parquet(cp)
    index = spark.createDataFrame([("Acme", 7), ("Acme_(x)", 8)], "title string, qid long")
    ip = str(tmp_path / "i.parquet")
    index.write.parquet(ip)
    out = str(tmp_path / "cands.parquet")
    rc = main([
        "--master", "local[4]",
        "clean", "--counts", cp, "--index", ip, "--out", out, "--min-count", "1",
    ])
    assert rc == 0
    got = {(r["anchor"], r["qid"]) for r in spark.read.parquet(out).collect()}
    assert got == {("acme", 7), ("acme", 8)}  # 'solo' fails the ambiguity filter

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    dp = str(tmp_path / "docs.parquet")
    docs.write.parquet(dp)
    ep = str(tmp_path / "emb.parquet")
    rc = main(["--master", "local[4]", "embed", "--docs", dp, "--out", ep, "--dim", "8"])
    assert rc == 0
    emb = spark.read.parquet(ep).first()
    assert len(emb["embedding"]) == 8
    assert abs(sum(x * x for x in emb["embedding"]) - 1.0) < 1e-9


def test_cli_disambig(spark, tmp_path):
    pages = spark.createDataFrame(
        [("https://x/wiki/Dab", "* [[Acme_(0)]]\n* [[Nope]]",)],
        "url string, text string",
    ).select("url", F.lit(None).cast("timestamp").alias("warc_ts"),
             F.lit(None).cast("binary").alias("html"), "text",
             F.lit("en").alias("lang"))
    pp = str(tmp_path / "pages.parquet")
    pages.write.parquet(pp)
    index = spark.createDataFrame([("Acme_(0)", 100)], "title string, qid long")
    ip = str(tmp_path / "idx.parquet")
    index.write.parquet(ip)
    out = str(tmp_path / "dab.parquet")
    rc = main(["--master", "local[4]", "disambig", "--pages", pp, "--index", ip, "--out", out])
    assert rc == 0
    assert {(r["title"], r["qid"]) for r in spark.read.parquet(out).collect()} == {("Dab", 100)}


def test_make_pyfiles_archive_deterministic_and_importable(tmp_path):
    import hashlib
    import subprocess
    import sys
    import zipfile

    sys.path.insert(0, "scripts")
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)

    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    files = build(z1)
    build(z2)
    # deterministic: two builds of the same tree are byte-identical
    h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert h(z1) == h(z2)
    # the archive carries the package, no bytecode, posix paths
    with zipfile.ZipFile(z1) as z:
        names = z.namelist()
    assert "minimel_spark/__init__.py" in names
    assert not any(n.endswith(".pyc") or "__pycache__" in n for n in names)
    assert all("\\" not in n for n in names)
    assert len(files) == len(names)
    # a fresh interpreter can import the package FROM the zip alone
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import minimel_spark.functions.similarity as s; "
        "print(round(s.jaro_winkler('martha', 'marhta'), 4))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, z1],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so the zip must supply it
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "0.9611"


def test_cli_report_reads_lineage_and_footers_without_spark(spark, tmp_path):
    """``report`` prints one line per committed stage, in commit order, from
    the lineage rows and part-file footers; the process that runs it starts
    no Spark session."""
    import os
    import subprocess
    import sys

    from minimel_spark.sources.checkpoint import Checkpointer

    workdir = str(tmp_path / "ck")
    ckpt = Checkpointer(spark, workdir)
    ckpt.stage("ten", lambda: spark.range(10).repartition(2))
    ckpt.stage("empty", lambda: spark.range(0))
    # a stage whose commit has no lineage file is not committed
    os.makedirs(os.path.join(workdir, "orphan"))
    open(os.path.join(workdir, "orphan", "_SUCCESS"), "w").close()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; from minimel_spark.__main__ import main; "
        "main(['report', '--workdir', sys.argv[1]]); "
        "from pyspark import SparkContext; "
        "assert SparkContext._active_spark_context is None"
    )
    res = subprocess.run(
        [sys.executable, "-c", code, workdir], cwd=root, capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr
    lines = res.stdout.splitlines()
    assert [line.split(":")[0] for line in lines] == ["ten", "empty"]
    fields = [dict(kv.split("=") for kv in line.split(": ")[1].split()) for line in lines]
    parts = sorted(f for f in os.listdir(os.path.join(workdir, "ten")) if f.startswith("part-"))
    assert fields[0]["rows"] == "10" and fields[0]["parts"] == str(len(parts)) == "2"
    assert fields[0]["bytes"] == str(
        sum(os.path.getsize(os.path.join(workdir, "ten", f)) for f in parts)
    )
    assert fields[0]["codec"] == "ZSTD"
    assert float(fields[0]["wall_secs"]) > 0
    # an empty stage commits one part file with no row group, so no codec
    assert fields[1]["rows"] == "0" and fields[1]["parts"] == "1"
    assert fields[1]["codec"] == "-"
