"""End-to-end reference-parity tests: the GraphQL source (hermetic fake
transport: pagination, retries, short-page stop, parent enrichment), the
config-driven export pipeline, sinks, and stats."""

from __future__ import annotations

import json
import os

import pytest

from parquet_exporter_spark.pipeline import load_config, run_export
from parquet_exporter_spark.sinks.geojson import write_feature_collection
from parquet_exporter_spark.sinks.writers import write_parquet
from parquet_exporter_spark.sources import graphql as G
from parquet_exporter_spark.sources.climbs import CLIMBS_SCHEMA, ingest_climb_docs


def _area(uuid, path, lat, lng, climbs):
    return {
        "uuid": uuid,
        "areaName": f"Area {uuid}",
        "pathTokens": path,
        "metadata": {"lat": lat, "lng": lng},
        "climbs": climbs,
    }


def _climb(uuid, **over):
    base = {
        "uuid": uuid,
        "name": f"Route {uuid}",
        "fa": None,
        "length": 12,
        "boltsCount": 4,
        "safety": "BOLTED",
        "grades": {"yds": "5.10a", "vscale": None, "french": None},
        "type": {"sport": True, "trad": False, "bouldering": False, "alpine": False, "tr": False},
        "metadata": {"lat": 40.0, "lng": -105.0},
        "content": {"description": "nice"},
        "pathTokens": ["USA", "Colorado"],
    }
    base.update(over)
    return base


class FakeTransport:
    """Scripted GraphQL endpoint: N full pages then a short page, with an
    optional transient-failure schedule."""

    def __init__(self, full_pages=1, fail_first_n=0):
        self.full_pages = full_pages
        self.fail_first_n = fail_first_n
        self.calls = 0

    def __call__(self, query, variables):
        self.calls += 1
        if self.fail_first_n > 0:
            self.fail_first_n -= 1
            raise G.TransientHTTPError(503)
        if "countries" in query:
            return {"countries": [{"isoCode": "USA"}]}
        offset = variables["offset"]
        page_idx = offset // G.PAGE_SIZE
        if page_idx < self.full_pages:
            areas = [
                _area(
                    f"a{page_idx}-{i}",
                    ["USA", "Colorado"],
                    40.0,
                    -105.0,
                    [
                        _climb(f"c{page_idx}-{i}-0"),
                        # climb missing coords + path: must inherit from area
                        _climb(f"c{page_idx}-{i}-1", metadata=None, pathTokens=None),
                    ],
                )
                for i in range(G.PAGE_SIZE)
            ]
            return {"areas": areas}
        return {"areas": [_area("last", ["USA", "Utah"], 39.0, -111.0, [_climb("c-last")])]}


def test_graphql_pagination_and_enrichment(monkeypatch):
    monkeypatch.setattr(G.time, "sleep", lambda s: None)
    t = FakeTransport(full_pages=2)
    climbs = G.fetch_all_climbs(t)
    # 2 full pages x PAGE_SIZE areas x 2 climbs + 1 short-page climb
    assert len(climbs) == 2 * G.PAGE_SIZE * 2 + 1
    orphan = next(c for c in climbs if c["uuid"] == "c0-0-1")
    assert orphan["pathTokens"] == ["USA", "Colorado"]  # inherited
    assert orphan["metadata"] == {"lat": 40.0, "lng": -105.0}  # inherited


def test_graphql_retries_then_succeeds(monkeypatch):
    monkeypatch.setattr(G.time, "sleep", lambda s: None)
    t = FakeTransport(full_pages=0, fail_first_n=2)  # 2 transient failures
    climbs = G.fetch_all_climbs(t)
    assert len(climbs) == 1


def test_graphql_gives_up_after_max_retries(monkeypatch):
    monkeypatch.setattr(G.time, "sleep", lambda s: None)
    t = FakeTransport(full_pages=0, fail_first_n=10)
    with pytest.raises(G.TransientHTTPError):
        G.fetch_all_climbs(t)


def test_export_pipeline_end_to_end(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(G.time, "sleep", lambda s: None)
    df = G.load_climbs(spark, FakeTransport(full_pages=0))
    assert df.schema == CLIMBS_SCHEMA

    cfg_file = tmp_path / "config.yaml"
    cfg_file.write_text(
        "export:\n  regions: [USA]\n  compression: zstd\n"
    )
    out = str(tmp_path / "climbs_out.parquet")
    stats_file = str(tmp_path / "export-stats.json")
    stats = run_export(
        spark, df, out, config=load_config(str(cfg_file)), stats_path=stats_file
    )
    assert stats["total_rows"] == 1
    assert os.path.exists(stats_file)
    written = spark.read.parquet(out)
    row = written.first()
    assert row.climb_id == "c-last"
    assert row.country == "USA"
    assert json.load(open(stats_file))["total_rows"] == 1


def test_region_filter_excludes(spark, tmp_path):
    docs = [
        _climb("usa-1", pathTokens=["USA", "X"]),
        _climb("can-1", pathTokens=["Canada", "Y"]),
        _climb("mex-1", pathTokens=["Mexico", "Z"]),
    ]
    df = ingest_climb_docs(spark, docs)
    out = str(tmp_path / "filtered.parquet")
    stats = run_export(spark, df, out, config={"export": {"regions": ["USA", "Canada"], "compression": "snappy"}})
    assert stats["total_rows"] == 2


def test_geojson_feature_collection(spark, tmp_path):
    docs = [
        _climb("g1"),
        _climb("g2", metadata=None),  # no coords -> dropped
    ]
    from parquet_exporter_spark.operators.climbs_reshape import reshape

    flat = reshape(ingest_climb_docs(spark, docs)).select(
        "climb_id", "climb_name", "latitude", "longitude"
    )
    out = str(tmp_path / "out.geojson")
    n = write_feature_collection(flat, out)
    assert n == 1
    doc = json.load(open(out))
    assert doc["type"] == "FeatureCollection"
    feat = doc["features"][0]
    assert feat["geometry"]["coordinates"] == [-105.0, 40.0]
    assert feat["properties"]["climb_id"] == "g1"
    assert "latitude" not in feat["properties"]


def test_geojson_distributed_sink(spark, tmp_path):
    from parquet_exporter_spark.operators.climbs_reshape import reshape
    from parquet_exporter_spark.sinks.geojson import write_feature_collection_distributed

    docs = [_climb("g1"), _climb("g3"), _climb("g2", metadata=None)]
    flat = reshape(ingest_climb_docs(spark, docs)).select(
        "climb_id", "climb_name", "latitude", "longitude"
    )
    out = str(tmp_path / "geo_parts")
    n = write_feature_collection_distributed(flat, out)
    assert n == 2
    header = open(os.path.join(out, "header.json")).read()
    footer = open(os.path.join(out, "footer.json")).read()
    lines = [
        line
        for p in sorted(os.listdir(os.path.join(out, "features")))
        if p.startswith("part-")
        for line in open(os.path.join(out, "features", p)).read().splitlines()
        if line
    ]
    doc = json.loads(header + ",".join(lines) + footer)
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == 2
    assert {f["properties"]["climb_id"] for f in doc["features"]} == {"g1", "g3"}


def test_partitioned_write_prunes(spark, tmp_path):
    docs = [_climb(f"p{i}", pathTokens=[c, "S"]) for i, c in enumerate(["USA", "USA", "Canada"])]
    from parquet_exporter_spark.operators.climbs_reshape import reshape

    flat = reshape(ingest_climb_docs(spark, docs))
    out = str(tmp_path / "partitioned")
    write_parquet(flat, out, partition_by=["country"])
    assert os.path.isdir(os.path.join(out, "country=USA"))
    pruned = spark.read.parquet(out).filter("country = 'USA'")
    assert pruned.count() == 2
    # partition pruning visible in the physical plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "country=USA" in plan


def test_graphql_python_datasource_partitions_per_country(spark):
    """The Python DataSource form of the GraphQL source: one input
    partition per country, schema fixed, parent-area enrichment applied
    inside each task."""
    from parquet_exporter_spark.sources.climbs import CLIMBS_SCHEMA
    from parquet_exporter_spark.sources.graphql_datasource import (
        SYNTH_CLIMBS_PER_COUNTRY,
        SYNTH_COUNTRIES,
        register,
    )

    register(spark)
    df = spark.read.format("graphql_climbs").load()
    assert df.schema == CLIMBS_SCHEMA
    rows = df.collect()
    assert len(rows) == len(SYNTH_COUNTRIES) * SYNTH_CLIMBS_PER_COUNTRY
    assert df.rdd.getNumPartitions() == len(SYNTH_COUNTRIES)
    # odd climbs had no coords/pathTokens -> inherited from the parent area
    odd = next(r for r in rows if r.uuid == "usa-0001")
    assert odd.pathTokens == ["USA", "Area 0"]
    assert odd.metadata.lat == 40.0
    # country subsetting via option
    two = spark.read.format("graphql_climbs").option("countries", "USA,FRA").load()
    assert two.rdd.getNumPartitions() == 2
    assert two.count() == 2 * SYNTH_CLIMBS_PER_COUNTRY


def test_graphql_streaming_ingest_one_country_per_batch(spark):
    """Streaming form of the GraphQL DataSource: countries arrive
    incrementally (offset = country index), totals match the batch read."""
    from parquet_exporter_spark.sources.graphql_datasource import (
        SYNTH_CLIMBS_PER_COUNTRY,
        SYNTH_COUNTRIES,
        register,
    )

    register(spark)
    stream = spark.readStream.format("graphql_climbs").load()
    q = (
        stream.writeStream.format("memory")
        .queryName("climbs_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT uuid FROM climbs_stream").collect()
        assert len(rows) == len(SYNTH_COUNTRIES) * SYNTH_CLIMBS_PER_COUNTRY
        assert len({r.uuid for r in rows}) == len(rows)  # exactly-once
    finally:
        q.stop()


def test_export_observe_metrics(spark, tmp_path):
    """observe() metrics ride the export write action: observed row count
    matches the read-back count, null-coordinate rows are counted."""
    docs = [
        _climb("m1", pathTokens=["USA", "S"]),
        _climb("m2", pathTokens=["USA", "S"], metadata=None),
    ]
    df = ingest_climb_docs(spark, docs)
    out = str(tmp_path / "metrics_out")
    stats = run_export(spark, df, out)
    m = stats["metrics"]
    assert m["rows_observed"] == stats["total_rows"] == 2
    assert m["approx_countries"] == 1
    assert m["null_coord_rows"] == 1


def test_export_stats_and_sample(spark, tmp_path, capsys):
    """Export stats (R24) against the raw-JSON yardstick computed here in a
    separate pass, and the sample display (R23)."""
    from pyspark.sql import functions as F

    from parquet_exporter_spark.operators.climbs_reshape import reshape
    from parquet_exporter_spark.sinks.stats import dir_size_bytes

    docs = [
        _climb(f"s{i}", pathTokens=["USA", f"State {i % 3}"], length=i) for i in range(40)
    ]
    df = ingest_climb_docs(spark, docs)
    out = str(tmp_path / "stats_out")
    stats = run_export(spark, df, out, sample=True)

    flat = reshape(df)
    raw = (
        flat.select(F.octet_length(F.to_json(F.struct(*flat.columns))).alias("b"))
        .agg(F.sum("b"))
        .first()[0]
    )
    assert stats["total_rows"] == 40
    assert stats["raw_size_mb"] == round(raw / 1e6, 3)
    assert stats["output_size_mb"] == round(dir_size_bytes(out) / 1e6, 3)
    assert stats["compression_ratio"] == round(raw / dir_size_bytes(out), 3)
    shown = capsys.readouterr().out
    assert "climb_id" in shown and "only showing top 5 rows" in shown


def test_empty_export_returns_zero_counts(spark, tmp_path):
    """A region filter that keeps nothing is a successful, empty export."""
    df = ingest_climb_docs(spark, [_climb("e1", pathTokens=["USA", "S"])])
    out = str(tmp_path / "empty_out")
    stats = run_export(spark, df, out, config={"export": {"regions": ["Nowhere"]}})
    assert stats["total_rows"] == 0
    assert stats["raw_size_mb"] == stats["compression_ratio"] == 0
    assert set(stats["metrics"].values()) == {0}
    assert spark.read.parquet(out).count() == 0


def _run_in_job_group(sc, tag: str, fn):
    """Run ``fn`` under job group ``tag``; return its result, its job count
    and the input bytes summed over the stages those jobs ran."""
    sc.setJobGroup(tag, tag)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(tag)
    stages = set()
    for job in jobs:
        ids = store.job(job).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    return result, len(jobs), sum(store.lastStageAttempt(s).inputBytes() for s in stages)


def test_export_scans_its_input_once(spark, tmp_path):
    """The stats and metrics ride the parquet write: the JSON input is read
    once, plus the footers of the read-back count."""
    from parquet_exporter_spark.sources.climbs import read_climbs_json

    corpus = tmp_path / "climbs.jsonl"
    docs = [_climb(f"j{i}", pathTokens=["USA", f"S{i % 7}"]) for i in range(2000)]
    corpus.write_text("".join(json.dumps(d) + "\n" for d in docs))
    out = str(tmp_path / "scan_out")
    _, _, input_bytes = _run_in_job_group(
        spark.sparkContext,
        "export-scans-input-once",
        lambda: run_export(spark, read_climbs_json(spark, str(corpus)), out),
    )
    assert 0 < input_bytes <= 1.2 * os.path.getsize(corpus)


def test_geojson_distributed_sink_fires_one_job(spark, tmp_path):
    """The feature count is observed on the text write; nothing is re-read."""
    from parquet_exporter_spark.operators.climbs_reshape import reshape
    from parquet_exporter_spark.sinks.geojson import write_feature_collection_distributed

    flat = reshape(ingest_climb_docs(spark, [_climb("g1"), _climb("g2", metadata=None)]))
    n, jobs, _ = _run_in_job_group(
        spark.sparkContext,
        "geojson-sink-one-job",
        lambda: write_feature_collection_distributed(flat, str(tmp_path / "geo")),
    )
    assert n == 1
    assert jobs == 1


def test_json_scan_corrupt_record_handling(spark, tmp_path):
    """Malformed JSON lines: PERMISSIVE mode quarantines them in
    _corrupt_record (good rows parse normally); DROPMALFORMED removes
    them — the ingestion guardrails for a dirty 100 TB crawl."""
    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"climb_id": "ok1", "length_m": 12}\n'
        "{not json at all}\n"
        '{"climb_id": "ok2", "length_m": 30}\n'
    )
    schema = "climb_id string, length_m int, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = permissive.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].climb_id is None
    good = {r.climb_id for r in rows if r._corrupt_record is None}
    assert good == {"ok1", "ok2"}

    dropped = (
        spark.read.schema("climb_id string, length_m int")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r.climb_id for r in dropped.collect()} == {"ok1", "ok2"}


def test_compaction_rewrites_to_target_file_count(spark, sf_dir, tmp_path):
    from parquet_exporter_spark.sinks.writers import write_compacted
    from parquet_exporter_spark.tables import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(frag)  # simulate streaming small files
    n_frag = len([p for p in (tmp_path / "fragmented").glob("part-*")])
    assert n_frag >= 32

    compacted = str(tmp_path / "compacted")
    write_compacted(
        spark.read.parquet(frag), compacted, target_files=4, sort_cols=["l_shipdate"]
    )
    parts = [p for p in (tmp_path / "compacted").glob("part-*.parquet")]
    assert len(parts) == 4
    assert spark.read.parquet(compacted).count() == li.count()


def test_parquet_merge_schema_on_read(spark, tmp_path):
    """Schema evolution across parquet generations: mergeSchema=true reads
    the union schema; columns absent in a generation surface as NULLs."""
    gen1 = spark.createDataFrame([(1, "a")], "id int, name string")
    gen2 = spark.createDataFrame([(2, "b", 9.5)], "id int, name string, score double")
    out = str(tmp_path / "evolved")
    gen1.write.parquet(os.path.join(out, "g=1"))
    gen2.write.parquet(os.path.join(out, "g=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert {f.name for f in merged.schema.fields} >= {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_jsonl_python_datasource_writer_roundtrip(spark, sf_dir, tmp_path):
    """The Spark 4 Python DataSource WRITER surface: writing through
    format('jsonl_dir') produces one jsonl file per input partition plus
    a _MANIFEST.json naming exactly the committed files, and a schema'd
    JSON read reproduces the input rows byte-for-byte."""
    import json
    import os

    from parquet_exporter_spark.sinks.jsonl_datasource import register
    from parquet_exporter_spark.tables import read_table

    register(spark)
    src = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .repartition(3)
    )
    out = str(tmp_path / "jsonl_out")
    src.write.format("jsonl_dir").mode("append").save(out)

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    files = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert sorted(manifest["files"]) == sorted(files)
    assert len(files) == 3  # one per input partition
    assert manifest["total_rows"] == src.count()

    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp"
    ).json(out)
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, sf_dir, tmp_path
):
    """overwrite_partitions replaces exactly the partitions in the
    incoming frame: other partitions' rows (and files) survive, the
    rewritten partition's old rows are gone, and plain static overwrite
    (the default) would have truncated them — pinned by contrast."""
    from parquet_exporter_spark.sinks.writers import (
        overwrite_partitions,
        write_parquet,
    )
    from parquet_exporter_spark.tables import read_table

    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    out = str(tmp_path / "dyn")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    before = {
        r.o_orderstatus: r.n
        for r in spark.read.parquet(out).groupBy("o_orderstatus").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert len(before) >= 2

    # backfill ONE partition with a recomputed (here: halved) slice
    target = sorted(before)[0]
    backfill = orders.filter(F.col("o_orderstatus") == target).limit(
        before[target] // 2
    )
    overwrite_partitions(backfill, out, partition_by=["o_orderstatus"])

    after = {
        r.o_orderstatus: r.n
        for r in spark.read.parquet(out).groupBy("o_orderstatus").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert after[target] == before[target] // 2  # rewritten
    for k in before:
        if k != target:
            assert after[k] == before[k]  # untouched


def test_atomic_parquet_publish_swaps_complete_datasets(spark, sf_dir, tmp_path):
    """write_atomic_parquet: the target is a symlink flipped atomically
    between complete versioned datasets — the path NEVER ceases to
    exist, old rows are fully replaced, the superseded version's
    directory is reclaimed, and a plain directory migrates into the
    scheme on first use."""
    import os

    from parquet_exporter_spark.sinks.writers import write_atomic_parquet
    from parquet_exporter_spark.tables import read_table

    nation = read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "atomic" / "nations")
    os.makedirs(os.path.dirname(out))
    write_atomic_parquet(nation.filter("n_nationkey < 5"), out)
    assert os.path.islink(out)
    assert spark.read.parquet(out).count() == 5
    write_atomic_parquet(nation.filter("n_nationkey >= 5"), out)
    back = spark.read.parquet(out)
    assert back.count() == nation.count() - 5
    assert back.filter("n_nationkey < 5").count() == 0  # fully swapped
    siblings = sorted(os.listdir(os.path.dirname(out)))
    basename = os.path.basename(out)
    versions = [d for d in siblings if d.startswith(f"{basename}.v-")]
    # exactly the live version remains; the superseded one was reclaimed
    assert len(versions) == 1
    assert os.path.realpath(out).endswith(versions[0])
    assert [d for d in siblings if not d.startswith(basename)] == []

    # migration: a plain directory written by write_parquet converts to
    # the symlink scheme and its rows are replaced
    plain = str(tmp_path / "atomic" / "plain")
    nation.filter("n_nationkey < 3").write.parquet(plain)
    write_atomic_parquet(nation.filter("n_nationkey >= 20"), plain)
    assert os.path.islink(plain)
    assert spark.read.parquet(plain).count() == nation.filter(
        "n_nationkey >= 20"
    ).count()


def test_jsonl_datasource_overwrite_and_append_contracts(spark, sf_dir, tmp_path):
    """mode('overwrite') clears previous part files AND the manifest;
    mode('append') folds new files into the existing manifest so
    manifest-honoring readers keep every committed write's rows."""
    import json
    import os

    from parquet_exporter_spark.sinks.jsonl_datasource import register
    from parquet_exporter_spark.tables import read_table

    register(spark)
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = str(tmp_path / "jsonl_modes")

    nation.limit(5).repartition(1).write.format("jsonl_dir").mode("append").save(out)
    nation.limit(8).repartition(2).write.format("jsonl_dir").mode("append").save(out)
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    files = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert sorted(manifest["files"]) == sorted(files)
    assert len(files) == 3  # 1 + 2 partitions, both writes kept
    assert manifest["total_rows"] == 13

    nation.limit(2).repartition(1).write.format("jsonl_dir").mode(
        "overwrite"
    ).save(out)
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    files = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(files) == 1 and manifest["files"] == files
    assert manifest["total_rows"] == 2
    back = spark.read.schema("n_nationkey long, n_name string").json(out)
    assert back.count() == 2  # old part files are gone, not just unlisted
