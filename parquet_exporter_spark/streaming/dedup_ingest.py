"""Streaming corpus ingest with incremental near-dup rejection.

The steady-state shape of a 100 TB training-corpus pipeline: documents
arrive as a stream; each micro-batch is (a) probed against the PERSISTED
LSH band index of everything accepted so far (its bands equi-join the
index; candidates are exact-verified against corpus text fetched for
them only), (b) greedily deduplicated within itself, and (c) written —
accepted docs to the corpus store, their band signatures to the index —
so the NEXT batch dedups against this one without any corpus re-pairing.
Per-batch cost is O(batch + candidates), never O(corpus).

One signing pass, one materialization: the batch is shingled and
md5-signed ONCE, into persisted shingle and band relations that read the
batch alone. The index probe, the within-batch self-join and the index
write all reuse those bands (functions/dedup.py: _band_candidates is the
shared band equi-join, _verified_probe_pairs and _verified_self_pairs the
two exact-Jaccard verifies). The verdict is one
relation tagging every batch row ``is_dup``, materialized by ONE
localCheckpoint; accepted and rejected are two filters over it. With AQE
off, a steady-state micro-batch fires 10 Spark jobs: two store schema
reads, four broadcasts, the checkpoint, and the three writes.

foreachBatch is the right host: index probe + multi-sink writes are one
transaction per micro-batch, which no single file sink expresses.
Exactly-once across restarts: every sink write lands under an
``ingest_batch=<batchId>`` partition directory in OVERWRITE mode, so a
replayed micro-batch (crash after some writes committed but before the
checkpoint offset did) rewrites its own partitions byte-for-byte instead
of double-appending — the standard foreachBatch batchId idempotence
pattern. Readers of the corpus/index/rejects roots see ``ingest_batch``
as an ordinary hive partition column. The store paths are bound to ONE
checkpoint lineage: a fresh checkpoint dir restarts batch ids at 0 and
would overwrite committed partitions, so the handler raises when it
finds a partition id larger than its own batch_id (see
make_ingest_batch_handler).

Scale note: the corpus store and index are plain parquet here; at
100 TB both would be a transactional table format (Delta/Iceberg/Hudi)
so concurrent readers never see a half-overwritten batch — the
streaming wiring is identical. Path existence is resolved through the
Hadoop FileSystem API, so the same code runs against HDFS/S3 URIs, not
only the local filesystem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.functions.dedup import (
    _band_candidates,
    _banded_from_shingled,
    _shingled_docs,
    _verified_probe_pairs,
    _verified_self_pairs,
)


def _hadoop_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists, resolved via the Hadoop FileSystem for
    the path's scheme — correct for hdfs://, s3a://, file:/ and bare
    local paths alike (a driver-local os.path.isdir silently reports
    False for every remote URI). Falls back to a read-probe under Spark
    Connect, where the py4j gateway is unavailable."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    except AttributeError:
        # Spark Connect: no py4j gateway — probe with a read. Only a
        # definite path-not-found maps to False; other failures re-raise
        # (see _readable_parquet for why swallowing them corrupts).
        try:
            spark.read.parquet(path).schema
            return True
        except Exception as ex:
            msg = str(ex)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return False
            if "UNABLE_TO_INFER_SCHEMA" in msg:
                return True  # exists, just empty
            raise


def _readable_parquet(spark, path: str) -> DataFrame | None:
    """The path's parquet DataFrame; None ONLY for the two expected
    empty-store shapes — path absent (bootstrap) or present with no
    readable footers yet (an all-empty first batch leaves only _SUCCESS
    markers, surfacing as UNABLE_TO_INFER_SCHEMA). Any OTHER read
    failure (throttling, expired credentials, a torn footer from a
    crashed writer) RAISES so the micro-batch fails and retries:
    swallowing it would silently disable cross-batch dedup for the
    batch and permanently accept near-duplicates — corruption, not
    degradation."""
    if not _hadoop_path_exists(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception as ex:
        name = type(ex).__name__
        msg = str(ex)
        if name == "AnalysisException" and (
            "UNABLE_TO_INFER_SCHEMA" in msg or "PATH_NOT_FOUND" in msg
        ):
            return None
        raise


def _max_ingest_batch(spark, path: str) -> int | None:
    """Largest existing ``ingest_batch=`` partition id under ``path``, or
    None when the store is absent or holds no such partitions. Resolved
    by listing partition directories — a metadata-only op via the Hadoop
    FileSystem for the path's scheme. Under Spark Connect (no py4j
    gateway) falls back to max() over the partition column with an
    EXPLICIT one-column schema: no schema inference pass, no data-column
    IO (partition values materialize from directory names), but Spark
    still lists and schedules over the store's files — O(files), not
    O(bytes). That residual cost is why the caller runs this guard once
    per (re)start, not per micro-batch; a catalog-backed table (Delta/
    Iceberg SHOW PARTITIONS) would make it O(1) at 100 TB."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        ids = []
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if name.startswith("ingest_batch="):
                try:
                    ids.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
        return max(ids) if ids else None
    except AttributeError:
        if not _hadoop_path_exists(spark, path):
            return None
        try:
            df = spark.read.schema("ingest_batch BIGINT").parquet(path)
        except Exception as ex:
            if "UNABLE_TO_INFER_SCHEMA" in str(ex) or "PATH_NOT_FOUND" in str(ex):
                return None
            raise
        row = df.agg(F.max("ingest_batch").alias("m")).collect()[0]
        return int(row.m) if row.m is not None else None


def _tagged_batch(
    batch_df: DataFrame,
    index_path: str,
    corpus_path: str,
    n_hashes: int,
    band_size: int,
    jaccard_threshold: float,
    id_col: str,
    text_col: str,
    persist_handles: list | None,
    exclude_ingest_batch: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(verdict, banded) for one batch: every batch row with a boolean
    ``is_dup`` column, and the batch's (id, band, band_sig) rows. The batch
    is shingled and signed ONCE, into persisted ``sh`` and ``banded``
    relations that read the batch only; the index probe and the
    within-batch self-join over survivors both read ``banded``, and both
    verify steps read ``sh``. See dedup_batch_against_index for the
    arguments."""
    spark = batch_df.sparkSession

    def _without_own_batch(df: DataFrame | None) -> DataFrame | None:
        if (
            df is not None
            and exclude_ingest_batch is not None
            and "ingest_batch" in df.columns
        ):
            return df.filter(F.col("ingest_batch") != exclude_ingest_batch)
        return df

    corpus = _without_own_batch(_readable_parquet(spark, corpus_path))
    index_df = _without_own_batch(_readable_parquet(spark, index_path))
    sh = _shingled_docs(batch_df, id_col, text_col).persist()
    banded = _banded_from_shingled(sh, n_hashes, band_size, id_col).persist()
    if persist_handles is not None:
        persist_handles.extend([sh, banded])
    dup_ids = None
    survivors = banded
    if corpus is not None and index_df is not None:
        candidates = _band_candidates(banded, index_df, id_col).distinct().persist()
        if persist_handles is not None:
            persist_handles.append(candidates)
        cross = _verified_probe_pairs(
            candidates, sh, corpus, jaccard_threshold, id_col, text_col
        )
        dup_ids = cross.select(F.col("id_a").alias(id_col))
        survivors = banded.join(dup_ids, id_col, "left_anti")
    # greedy keep-smallest-id: in every colliding survivor pair the larger
    # id loses, so each near-dup family's minimum id survives
    losers = _verified_self_pairs(survivors, sh, jaccard_threshold, id_col).select(
        F.col("id_b").alias(id_col)
    )
    dups = losers if dup_ids is None else dup_ids.unionByName(losers)
    verdict = batch_df.join(
        dups.distinct().withColumn("is_dup", F.lit(True)), id_col, "left"
    ).select(
        *[F.col(c) for c in batch_df.columns],
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )
    return verdict, banded


def _split(verdict: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejected) batch rows of a tagged batch."""
    return (
        verdict.filter(~F.col("is_dup")).drop("is_dup"),
        verdict.filter(F.col("is_dup")).drop("is_dup"),
    )


def dedup_batch_against_index(
    batch_df: DataFrame,
    index_path: str,
    corpus_path: str,
    n_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_handles: list | None = None,
    exclude_ingest_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One increment: returns (accepted, rejected) for a batch.

    rejected = batch docs near-duplicating the existing corpus (via the
    index) plus within-batch near-dup losers (the greedy keep-smallest-id
    rule: in every colliding pair the larger id loses, so each near-dup
    family's minimum id survives).

    ``persist_handles``: pass a list to collect the DataFrames the dedup
    machinery persists internally, for explicit unpersist() once the
    verdicts are materialized — required in per-micro-batch callers so a
    long-running stream does not accumulate cache entries without bound.

    ``exclude_ingest_batch``: a REPLAYED micro-batch must not probe the
    rows its own earlier (partially committed) run wrote, or it would
    self-reject every doc it previously accepted; passing the batch id
    filters that ``ingest_batch=`` partition out of both the corpus and
    the index view, so the replay recomputes its verdicts from exactly
    the state the original run saw. The filter is on the partition
    column, so the excluded partition's files are pruned, never read.
    """
    verdict, _ = _tagged_batch(
        batch_df,
        index_path,
        corpus_path,
        n_hashes,
        band_size,
        jaccard_threshold,
        id_col,
        text_col,
        persist_handles,
        exclude_ingest_batch,
    )
    return _split(verdict)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a localCheckpoint-ed DataFrame now, instead of
    whenever the driver garbage-collects it. Under Spark Connect (no py4j
    handle) the server releases them with the DataFrame."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except AttributeError:
        pass


def make_ingest_batch_handler(
    index_path: str,
    corpus_path: str,
    rejects_path: str | None = None,
    n_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The foreachBatch handler, exposed so its exactly-once contract is
    directly testable: calling it twice with the SAME batch_id (a replay)
    leaves every store identical to calling it once, because each sink
    write overwrites that batch's own ingest_batch= partition.

    LINEAGE CONTRACT: the store paths are bound to ONE checkpoint
    lineage. Restarting the stream with a FRESH checkpoint dir (or
    pointing a second query at the same paths) restarts batch ids at 0,
    and the overwrite-own-partition idempotence pattern would then
    silently clobber the prior lineage's committed ingest_batch=0,1,...
    partitions. Guard: a legitimate replay can only ever observe
    existing partition ids <= its own batch_id, so a batch that finds a
    LARGER id in the corpus raises instead of writing. The store-listing
    guard runs on the handler's FIRST micro-batch and whenever the batch
    id goes BACKWARDS (batch ids are non-decreasing within one lineage —
    a replay re-delivers the SAME id — so a lower id is itself the
    fresh-lineage symptom, detected in O(1)): lineage mismatch is a
    (re)start-time condition, and once batch b passes, this handler
    writes only partitions <= the current batch id, so no later batch
    can violate the invariant without a concurrent FOREIGN writer, which
    the path-binding contract already excludes. This keeps the guard's
    O(store-files) listing off the steady-state per-batch path. (The one
    undetectable corner — the prior lineage committed only batch 0 and
    the new lineage's batch 0 overwrites it — is why the path binding is
    a documented contract, not merely a runtime check.)

    PER-BATCH COST: the batch is signed once (_tagged_batch) and its
    verdict checkpointed once; the corpus, rejects and index writes read
    that checkpoint, and the index rows are the persisted bands of the
    accepted ids. Every persist and the checkpoint's blocks are released
    before the handler returns, so cached blocks do not accrue across
    batches. With AQE off a steady-state call fires 10 jobs; with AQE on
    each shuffle stage adds one."""
    last_batch: list[int | None] = [None]

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if last_batch[0] is None or batch_id < last_batch[0]:
            existing_max = _max_ingest_batch(batch_df.sparkSession, corpus_path)
            if existing_max is not None and existing_max > batch_id:
                raise RuntimeError(
                    f"dedup ingest: corpus at {corpus_path!r} already holds "
                    f"ingest_batch={existing_max} but this micro-batch has "
                    f"batch_id={batch_id} — a replay can only see its own id "
                    "as the maximum, so this stream is running against a "
                    "store committed by a DIFFERENT checkpoint lineage "
                    "(fresh checkpoint dir, or a second query on the same "
                    "paths). Writing would overwrite committed data; point "
                    "the stream at fresh store paths or restore the original "
                    "checkpoint."
                )
        last_batch[0] = batch_id if last_batch[0] is None else max(
            last_batch[0], batch_id
        )
        batch_df = batch_df.persist()
        handles: list = [batch_df]
        verdict = None
        try:
            tagged, banded = _tagged_batch(
                batch_df,
                index_path,
                corpus_path,
                n_hashes,
                band_size,
                jaccard_threshold,
                id_col,
                text_col,
                handles,
                batch_id,
            )
            # Materialize the verdict ONCE before any write, with lineage
            # TRUNCATED (localCheckpoint, not persist): its plan reads the
            # corpus/index parquet this batch is about to write to, and
            # writing under a path invalidates+recomputes any cache whose
            # plan scans it (CacheManager recache-by-path) — a recomputed
            # verdict would see the batch's own rows and self-reject them.
            # Checkpointed blocks have no lineage to recompute, so they are
            # immune. ``banded`` reads the batch only, so the index write
            # below reuses it safely.
            verdict = tagged.localCheckpoint(eager=True)
            accepted, rejected = _split(verdict)
            batch_dir = f"ingest_batch={batch_id}"
            accepted.write.mode("overwrite").parquet(
                f"{corpus_path}/{batch_dir}"
            )
            banded.join(accepted.select(id_col), id_col, "semi").write.mode(
                "overwrite"
            ).partitionBy("band").parquet(f"{index_path}/{batch_dir}")
            if rejects_path is not None:
                rejected.write.mode("overwrite").parquet(
                    f"{rejects_path}/{batch_dir}"
                )
        finally:
            for h in handles:
                h.unpersist()
            if verdict is not None:
                _release_checkpoint(verdict)

    return _ingest


def ingest_dedup_stream(
    stream_docs: DataFrame,
    index_path: str,
    corpus_path: str,
    rejects_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start the foreachBatch ingest query; returns the StreamingQuery."""
    handler = make_ingest_batch_handler(
        index_path,
        corpus_path,
        rejects_path=rejects_path,
        n_hashes=n_hashes,
        band_size=band_size,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
    )
    writer = stream_docs.writeStream.foreachBatch(handler).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
