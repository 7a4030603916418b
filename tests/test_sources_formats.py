"""Source/sink format surface (sources/readers.py): JSON, ORC, CSV sinks."""

from pyspark.sql import functions as F

from steel_datafusion_spark.sources.readers import (
    load_tables, read_csv, read_json, read_orc, write_csv, write_json,
    write_orc,
)
from steel_datafusion_spark.queries import _JSONL_FIXTURE

from conftest import SF_DIR


def test_read_json_nested_inference(spark):
    df = read_json(spark, _JSONL_FIXTURE)
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    assert types["id"] == "bigint" and types["val"] == "bigint"
    assert types["tags"] == "array<string>"
    assert types["meta"].startswith("struct<")
    assert df.count() == 200
    # 3VL: null-val rows drop under isNotNull, matching the CSV fixture
    csv_nulls = read_csv(spark, _JSONL_FIXTURE.replace(".jsonl", ".csv")) \
        .filter(F.col("val").isNull()).count()
    assert csv_nulls > 0
    assert df.filter(F.col("val").isNotNull()).count() == 200 - csv_nulls


def test_read_json_explicit_schema_roundtrip(spark, tmp_path_factory):
    df = read_json(spark, _JSONL_FIXTURE)
    out = str(tmp_path_factory.mktemp("json_sink"))
    write_json(df.select("id", "grp", "val"), out)
    back = read_json(spark, out, schema="id long, grp string, val long")
    assert back.count() == 200
    assert sorted(r.id for r in back.collect()) == list(range(200))


def test_orc_roundtrip_pushdown(spark, tmp_path_factory):
    d = load_tables(spark, SF_DIR)["documents"]
    out = str(tmp_path_factory.mktemp("orc_sink"))
    write_orc(d.select("doc_id", "lang", "n_chars"), out)
    back = read_orc(spark, out).filter(F.col("n_chars") >= 400)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan
    want = d.filter(F.col("n_chars") >= 400).count()
    assert back.count() == want and want > 0


def test_orc_partitioned_layout(spark, tmp_path_factory):
    d = load_tables(spark, SF_DIR)["documents"]
    out = str(tmp_path_factory.mktemp("orc_part"))
    write_orc(d.select("doc_id", "n_chars", "lang"), out,
              partition_by=["lang"])
    back = read_orc(spark, out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == d.filter(F.col("lang") == "en").count()


def test_write_csv_read_csv_roundtrip(spark, tmp_path_factory):
    d = load_tables(spark, SF_DIR)["documents"].select(
        "doc_id", "source", "n_chars")
    out = str(tmp_path_factory.mktemp("csv_sink"))
    write_csv(d, out)
    back = read_csv(spark, out)
    # read_csv widens inferred ints to long (reference inference parity)
    assert dict((f.name, f.dataType.simpleString())
                for f in back.schema.fields)["doc_id"] == "bigint"
    assert back.count() == d.count()
    assert (back.agg(F.sum("n_chars")).first()[0]
            == d.agg(F.sum("n_chars")).first()[0])


def test_merge_upsert_replace_and_insert(spark, tmp_path_factory):
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )
    out = str(tmp_path_factory.mktemp("upsert")) + "/tbl"
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long")
    merge_upsert(spark, out, base, ["k"])  # seed
    upd = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40)], "k long, s string, v long")
    merge_upsert(spark, out, upd, ["k"])
    got = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}
    # idempotent: re-applying the same batch changes nothing
    merge_upsert(spark, out, upd, ["k"])
    again = {r.k: (r.s, r.v) for r in read_parquet(spark, out).collect()}
    assert again == got


def _part_files(root, rel):
    """{relpath: (sha256, mtime_ns)} of one partition's data files in
    the newest committed version of the manifest table at ``root`` (the
    hidden checksum files Spark writes beside them do not carry)."""
    import hashlib
    import os

    from steel_datafusion_spark.sources.manifest import latest_commit

    version_dir = latest_commit(root)[1]
    d = os.path.join(version_dir, rel)
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in sorted(files):
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, version_dir)] = (
                    hashlib.sha256(fh.read()).hexdigest(),
                    os.stat(p).st_mtime_ns)
    return out


def test_merge_upsert_partitioned_touches_only_updated_partitions(
        spark, tmp_path_factory):
    from steel_datafusion_spark.sources.readers import (
        merge_upsert, read_parquet,
    )
    out = str(tmp_path_factory.mktemp("upsert_part")) + "/tbl"
    base = spark.createDataFrame(
        [(1, "a", 10, "p1"), (2, "b", 20, "p1"),
         (3, "c", 30, "p2"), (4, "d", 40, "p3")],
        "k long, s string, v long, p string")
    merge_upsert(spark, out, base, ["k"], partition_by=["p"])
    before_p1 = _part_files(out, "p=p1")
    before_p2 = _part_files(out, "p=p2")
    before_p3 = _part_files(out, "p=p3")
    assert before_p1 and before_p2 and before_p3

    upd = spark.createDataFrame(
        [(2, "b2", 99, "p1"), (5, "e", 50, "p4")],
        "k long, s string, v long, p string")
    merge_upsert(spark, out, upd, ["k"], partition_by=["p"])

    # untouched partitions byte-identical (content hash AND mtime) in the
    # new version; the touched one was rewritten
    assert _part_files(out, "p=p2") == before_p2
    assert _part_files(out, "p=p3") == before_p3
    assert _part_files(out, "p=p1") != before_p1
    got = {r.k: (r.s, r.v, r.p) for r in read_parquet(spark, out).collect()}
    assert got == {1: ("a", 10, "p1"), 2: ("b2", 99, "p1"),
                   3: ("c", 30, "p2"), 4: ("d", 40, "p3"),
                   5: ("e", 50, "p4")}
    # idempotent re-apply
    merge_upsert(spark, out, upd, ["k"], partition_by=["p"])
    again = {r.k: (r.s, r.v, r.p) for r in read_parquet(spark, out).collect()}
    assert again == got


def test_ensure_session_confs_raises_only_on_a_differing_unsettable_conf():
    """A conf the session refuses to set must already hold the required
    value: a differing one raises, naming the conf, instead of letting
    timestamps silently disagree with the UTC oracle.  Stub session, no
    Spark."""
    import pytest

    from steel_datafusion_spark.sources.readers import (
        _REQUIRED_CONFS, ensure_session_confs,
    )

    tz = "spark.sql.session.timeZone"

    class _Conf:
        def __init__(self, held):
            self.held = dict(held)

        def set(self, k, v):
            if k == tz:
                raise RuntimeError("static conf")
            self.held[k] = v

        def get(self, k, default=None):
            return self.held.get(k, default)

    class _Session:
        def __init__(self, held):
            self.conf = _Conf(held)

    with pytest.raises(RuntimeError, match=tz):
        ensure_session_confs(_Session({tz: "America/Los_Angeles"}))
    ok = _Session({tz: "UTC"})
    ensure_session_confs(ok)
    assert ok.conf.held == _REQUIRED_CONFS
