"""Structured-Streaming front-end: binlog-tail → lake upsert.

Reference analog: the changelog *tail* sources — general-log Tailer
(``mysqlsniffer/.../generallog/GLCaptureThread.java:52-87``, S7) and the
SLS consumer (S9) feeding frodo's ordered replay. On Spark this is the
file streaming source: new changelog files landing in a directory are
discovered per microbatch (``maxFilesPerTrigger`` ≙ the reference's
ring-buffer backpressure, ``BaseWorkHandler.java:64-81``), and each
microbatch goes through the SAME ``CdcPipeline.apply_batch`` as the
batch path — one code path for replay and tail.

Exactly-once composition: Spark's streaming checkpoint tracks which
files were consumed; the engine's snapshot offsets + idempotent merge
absorb any replayed microbatch after a crash (both layers must agree,
and they do because apply_batch filters on committed offsets first).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from polardbx_tools_spark.pipeline import CdcPipeline


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — works for
    local paths AND hdfs://, s3a://, etc.; a driver-local os.path check
    would silently report False on any non-local filesystem (review
    finding: that disabled the dedup gate's corpus check + replay guard
    whenever the index lives on cluster storage)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def start_cdc_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    table_path: str,
    checkpoint_dir: str,
    bucket_count: int = 16,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    fmt: str = "parquet",
    merge_mode: str | None = None,
    compact_deltas_over: int | None = None,
    max_errors: int = 0,
) -> StreamingQuery:
    """Tail a changelog directory and MERGE each microbatch into the lake
    table. ``available_now=True`` drains what exists and stops (the test/
    replay mode); ``False`` keeps tailing (the production mode).
    ``merge_mode="mor"`` appends batch-sized delta files per microbatch —
    the natural mode for a high-frequency tail; pair with
    ``compact_deltas_over=N`` (the delta-pressure trigger
    ``maintenance.compact_if_needed`` after each microbatch, same knob
    as ``CdcPipeline.run``) or the tail's read amplification grows
    without bound. Default copy-on-write."""
    pipe = CdcPipeline(spark, table_path, bucket_count=bucket_count,
                       merge_mode=merge_mode, max_errors=max_errors)
    pipe.ensure_table(with_tool="tool" in schema.fieldNames())

    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)

    def apply(batch_df, batch_id: int) -> None:
        pipe.apply_batch(batch_df, batch_id=batch_id)
        if compact_deltas_over:
            from polardbx_tools_spark.lake.maintenance import (
                compact_if_needed,
            )

            compact_if_needed(
                spark, pipe.table, max_delta_files=compact_deltas_over
            )

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_multi_table_cdc_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    table_paths: dict[str, str],
    checkpoint_dir: str,
    bucket_count: int = 16,
    schema_col: str = "schema",
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    fmt: str = "parquet",
    merge_mode: str = "cow",
    on_unknown: str = "ignore",
    assume_ordered: bool = True,
    compact_deltas_over: int | None = None,
) -> StreamingQuery:
    """Multi-table CDC tail: one mixed changelog stream routed by its
    ``schema_col`` to N lake tables per microbatch — the streaming shape
    of :func:`polardbx_tools_spark.lake.multi.apply_multi_table`
    (reference: batch-tool's ``-t t1,t2`` + frodo per-event schema,
    continuously).

    Exactly-once composition is three layers deep: Spark's checkpoint
    tracks consumed files; each microbatch is pre-filtered by the
    CROSS-TABLE min committed offsets (so a replayed batch skips what
    every table already holds); and the per-table idempotent merges
    absorb the crash-split remainder (a batch committed to table A but
    not B replays into both, A no-ops). ``on_unknown='ignore'`` is the
    tail default — an unroutable event is consumed-and-skipped like a
    quarantined row, never stalls the stream; pass 'error' to stop on
    routing bugs.

    SOURCE CONTRACT (same as the single-table tail / any offsets-based
    resume — binlog/Kafka semantics): events of one source partition
    must arrive in non-decreasing LSN order across microbatches. An
    offset is only meaningful under ordered delivery; the
    committed-offsets pre-filter treats a lower-LSN straggler arriving
    AFTER its partition's offset advanced as already-consumed. File
    tails must land files in LSN order (see tests for the landing
    discipline — FileStreamSource batches by MODIFICATION TIME, so
    same-millisecond copies can reorder windows). For a source that
    cannot guarantee order, pass ``assume_ordered=False``: the
    pre-filter is skipped and EVERY event re-merges idempotently —
    same final state (exact ties lose to the target), stragglers land
    correctly by the (ts, lsn, part) total order, at the cost of replay
    work per restarted checkpoint.

    Each microbatch is one :func:`apply_multi_table` call: one routing
    pass, then one route step per routed table, all running at once.

    ``compact_deltas_over``: delta-pressure MOR compaction threshold
    (max delta files per bucket), checked in each table's route step
    right after its merge — without it a long ``merge_mode='mor'`` tail
    accumulates deltas unboundedly (round-4 verdict gap #1). Safe
    mid-stream: compaction commits are ordinary atomic snapshots, and
    an expected_version conflict with another writer just defers the
    fold to the next trigger — the stream never fails over it."""
    from polardbx_tools_spark.lake.merge import LSN_COL, PART_COL
    from polardbx_tools_spark.lake.multi import (
        apply_multi_table,
        committed_offsets_filter,
        resume_offsets,
    )
    from polardbx_tools_spark.lake.table import LakeTable

    from pyspark.sql.types import StructType as _St

    meta = {"op", LSN_COL, PART_COL, schema_col}
    payload = _St([f for f in schema.fields if f.name not in meta])
    tables: dict[str, LakeTable] = {}
    for name, path in table_paths.items():
        t = LakeTable(path)
        tables[name] = t if t.exists() else LakeTable.create(
            path, payload, bucket_key=key_cols[0],
            bucket_count=bucket_count, key_cols=key_cols,
        )

    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)

    def apply(batch_df, batch_id: int) -> None:
        ro = resume_offsets(tables) if assume_ordered else None
        if ro:
            # ONE shared resume predicate with run_multi_table
            batch_df = batch_df.filter(
                F.col(LSN_COL) > committed_offsets_filter(ro)
            )
        apply_multi_table(
            spark, tables, batch_df, batch_id=batch_id,
            key_cols=key_cols, schema_col=schema_col,
            mode=merge_mode, on_unknown=on_unknown,
            compact_deltas_over=compact_deltas_over,
        )

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    out_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
) -> StreamingQuery:
    """Watermarked tumbling-window event counts — frodo's interval QPS
    gauge (``thread/MonitorThread.java:35-95``) as a Structured Streaming
    aggregation with LATE-DATA semantics:

    * events later than ``watermark`` behind the max seen event time are
      DROPPED (they can no longer change an emitted window);
    * append mode emits each window exactly once, when the watermark
      passes its end — so downstream consumers never see a count twice.

    State is bounded by (windows inside the watermark horizon), not by
    stream length — the scale-correct shape for an endless tail.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    index_path: str,
    accepted_dir: str,
    rejected_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
    compact_every_batches: int | None = None,
    compact_target_files: int = 8,
    benchmark=None,
    decontam_n: int = 13,
    contaminated_dir: str | None = None,
    bench_text_col: str | None = None,
    ppl_ref=None,
    max_log_ppl: float | None = None,
    filtered_dir: str | None = None,
) -> StreamingQuery:
    """Streaming corpus-curation gate: tail a document directory and
    content-dedup each microbatch against everything accepted so far.

    ``benchmark`` (a DataFrame of evaluation documents) turns on
    ingest-time decontamination: each microbatch is first screened for
    word-``decontam_n``-gram overlap with the eval corpus
    (:func:`~polardbx_tools_spark.operators.text.decontaminate` — the
    GPT-3/Pile 13-gram convention) and contaminated docs are routed to
    ``contaminated_dir`` (required with ``benchmark``) with their
    overlap count, never reaching the accepted corpus or the index. The
    benchmark's distinct gram set is derived ONCE at stream start and
    persisted — eval suites are MBs against a growing corpus, so every
    batch pays only a broadcast hash join. Contaminated ids join the
    replay guard exactly like rejected ids: a replayed batch re-decides
    nothing.

    ``max_log_ppl`` turns on the ingest-time CCNet-style perplexity
    screen (the streaming shape of run_prepare's ``--max-log-ppl``
    gate): an add-one bigram LM is fitted ONCE at stream start on
    ``ppl_ref`` (required, a trusted reference corpus DataFrame) and
    its two count relations persist for the stream's lifetime; each
    microbatch is scored (two equi-joins against the cached counts —
    AQE broadcasts them while the reference vocabulary is small) and
    docs with mean per-token -log10 probability ABOVE the threshold
    route to ``filtered_dir`` (required) with their ``log_ppl``, after
    decontamination but BEFORE any shingling is paid. Featureless
    (empty) docs carry no evidence and pass through. Filtered ids join
    the replay guard like rejected/contaminated ones.

    ``compact_every_batches=N`` folds the index's per-batch appended
    parquet files every N microbatches into ``compact_target_files``
    files per relation (``MinHashLshIndex.compact`` — banded
    re-bucketed, duplicate band rows dropped), bounding the
    small-file growth a long tail otherwise accumulates ∝ batches.
    Safe HERE because foreachBatch serializes batches — the gate is the
    index's only writer, so the offline-by-contract compact runs in the
    gap between batches; a crash mid-compact is repaired by
    ``idx.repair()`` at the next batch before the index is read.

    Per microbatch (foreachBatch), the batch's hashed-shingle and band
    relations are derived ONCE and reused by every step (index join,
    intra self-join, verification, index append — shingling+minhash is
    the dominant per-doc cost):

    1. near-dup pairs of the batch vs the persistent
       :class:`~polardbx_tools_spark.operators.dedup.MinHashLshIndex`
       at ``index_path`` (cost ∝ batch × collisions — the corpus side
       is the materialized band/shingle index, never re-shingled);
    2. batch-internal near-dup CLUSTERS (connected components over the
       verified pair graph): one canonical doc per cluster is kept —
       the lowest id not already rejected by the index — and the rest
       reject against it, so every intra reject's ``dup_of`` is an
       ACCEPTED doc (a pairwise-greedy rule can chain-reject docs whose
       dup_of was itself rejected);
    3. rejected docs land in ``rejected_dir`` with the duplicate's id;
       accepted docs land in ``accepted_dir`` AND are appended to the
       index, so later batches dedup against them.

    This is the ingest-time shape of training-data dedup: the batch
    operators (minhash_lsh_pairs et al.) answer "is this corpus clean?",
    this stream answers "keep it clean as it grows" with per-batch cost
    bounded by the batch. Idempotent replay mirrors the CDC tail's
    discipline: a replayed microbatch is anti-joined against the ids
    already processed (indexed ∪ rejected) before anything runs, so it
    accepts, rejects, and indexes NOTHING twice — the doc id is the
    idempotence key, exactly as (conv_id, turn_idx, lsn) is for the
    merge. Existence probes go through the Hadoop FileSystem API, so
    the gate behaves the same on HDFS/S3 paths as on local disk. (A
    crash in the middle of a batch's sink writes can leave that one
    batch's rows at-least-once in accepted/rejected — the sinks here
    are plain parquet appends, not the lake's atomic snapshot; route
    accepted docs through the lake merge when that matters, or dedup by
    id downstream. The index itself fails safe: band rows are written
    before the shingle rows the replay guard keys on.)
    """
    from polardbx_tools_spark.operators.dedup import (
        MinHashLshIndex, duplicate_clusters,
    )

    idx = MinHashLshIndex(
        spark, index_path, num_hashes=num_hashes, bands=bands
    )

    bench_grams = None
    if benchmark is not None:
        if contaminated_dir is None:
            raise ValueError("benchmark requires contaminated_dir")
        from polardbx_tools_spark.operators.text import benchmark_ngrams

        # derived once for the stream's lifetime; persisted so each
        # microbatch re-reads the gram set from cache, not the eval docs
        bench_grams = benchmark_ngrams(
            benchmark, decontam_n, bench_text_col or text_col
        ).persist()
        bench_grams.count()

    lm_state = None
    if max_log_ppl is not None:
        if ppl_ref is None or filtered_dir is None:
            raise ValueError("max_log_ppl requires ppl_ref and filtered_dir")
        from polardbx_tools_spark.operators.lm import lm_fit

        # fitted once for the stream's lifetime; the two count
        # relations persist so every microbatch pays only the score
        # joins, never the reference scan
        uni, bi, consts = lm_fit(ppl_ref, text_col)
        uni, bi = uni.persist(), bi.persist()
        uni.count(), bi.count()
        lm_state = (uni, bi, consts)

    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)

    def apply(batch_df, batch_id: int) -> None:
        # ALWAYS heal a crashed compact() before the existence probe —
        # a swap that died between its renames leaves hs/ missing and
        # _hs_old behind; without repair a restart (with or without the
        # compaction flag) would read "no index" and re-accept
        # duplicates of the whole corpus (round-5 review finding).
        # Cheap: directory checks only.
        idx.repair()
        have_index = _fs_exists(spark, f"{idx.path}/hs")
        # replay/idempotence guard: drop ids this gate already decided
        # (accepted ids live in the index; rejected ids in rejected_dir
        # — checked INDEPENDENTLY of the index, so a crash before the
        # first index append still cannot double-reject)
        seen = None
        if have_index:
            seen = spark.read.parquet(f"{idx.path}/hs").select(
                F.col("id").alias(id_col)
            )
        if _fs_exists(spark, rejected_dir):
            rej_ids = spark.read.parquet(rejected_dir).select(id_col)
            seen = rej_ids if seen is None else seen.unionByName(rej_ids)
        if contaminated_dir is not None and _fs_exists(spark, contaminated_dir):
            con_ids = spark.read.parquet(contaminated_dir).select(id_col)
            seen = con_ids if seen is None else seen.unionByName(con_ids)
        if filtered_dir is not None and _fs_exists(spark, filtered_dir):
            fil_ids = spark.read.parquet(filtered_dir).select(id_col)
            seen = fil_ids if seen is None else seen.unionByName(fil_ids)
        if seen is not None:
            batch_df = batch_df.join(seen, on=id_col, how="left_anti")
        to_unpersist = []
        if bench_grams is not None:
            # decontamination screen BEFORE dedup: contaminated docs
            # must never become dup_of targets for later docs
            from polardbx_tools_spark.operators.text import decontaminate

            contam = (
                decontaminate(
                    batch_df, n=decontam_n, text_col=text_col,
                    id_col=id_col, benchmark_grams=bench_grams,
                )
                .filter(F.col("contaminated") == 1)
                .select(id_col, "n_contam_grams")
                .persist()
            )
            to_unpersist.append(contam)
            batch_df.join(contam, on=id_col).write.mode("append").parquet(
                contaminated_dir
            )
            batch_df = batch_df.join(
                contam.select(id_col), on=id_col, how="left_anti"
            )
        if lm_state is not None:
            # perplexity screen after decontamination, before any
            # shingling cost; empty docs (NULL log_ppl) pass through
            from polardbx_tools_spark.operators.lm import lm_score

            uni, bi, consts = lm_state
            bad = (
                lm_score(batch_df, uni, bi, consts["total"],
                         consts["vocab"], id_col, text_col)
                .filter(F.col("log_ppl") > max_log_ppl)
                .select(id_col, "log_ppl")
                .persist()
            )
            to_unpersist.append(bad)
            batch_df.join(bad, on=id_col).write.mode("append").parquet(
                filtered_dir
            )
            batch_df = batch_df.join(
                bad.select(id_col), on=id_col, how="left_anti"
            )
        batch_df = batch_df.persist()
        to_unpersist.append(batch_df)
        try:
            # ONE derivation of the batch's shingle/band relations
            hs_new, banded_new = idx._derive(batch_df, text_col, id_col)
            to_unpersist += [hs_new, banded_new]
            inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
            union = F.size(F.array_union(F.col("hs_a"), F.col("hs_b")))
            jac = (inter / union).cast("double")

            def verify(cands, a_col, b_col, hs_right):
                return (
                    cands
                    .join(hs_new.select(F.col("id").alias(a_col),
                                        F.col("hs").alias("hs_a")), on=a_col)
                    .join(hs_right.select(F.col("id").alias(b_col),
                                          F.col("hs").alias("hs_b")), on=b_col)
                    .filter(jac >= verify_threshold)
                    .select(a_col, b_col)
                )

            # vs the accepted corpus (empty on the very first batch)
            if have_index:
                banded_old = spark.read.parquet(f"{idx.path}/banded")
                hs_old = spark.read.parquet(f"{idx.path}/hs")
                cands = (
                    banded_new.select(F.col("id").alias(id_col), "band", "bucket")
                    .join(banded_old.select(F.col("id").alias("dup_of"),
                                            "band", "bucket"),
                          on=["band", "bucket"])
                    .select(id_col, "dup_of")
                    .distinct()
                )
                vs_index = (
                    verify(cands, id_col, "dup_of", hs_old)
                    .groupBy(id_col)
                    .agg(F.min("dup_of").alias("dup_of"))
                    .persist()
                )
                to_unpersist.append(vs_index)
            else:
                vs_index = None
            # intra-batch near-dup clusters over the verified pair graph
            a = banded_new.select(F.col("id").alias("id_a"), "band", "bucket")
            b = banded_new.select(F.col("id").alias("id_b"), "band", "bucket")
            cands = (
                a.join(b, on=["band", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            pairs = verify(cands, "id_a", "id_b", hs_new)
            clusters = duplicate_clusters(pairs)
            # canonical = lowest cluster member NOT index-rejected; other
            # members reject against it (dup_of is always accepted)
            members = (
                clusters.withColumnRenamed("doc_id", id_col)
                if vs_index is None
                else clusters.withColumnRenamed("doc_id", id_col)
                .join(vs_index.select(id_col), on=id_col, how="left_anti")
            )
            canon = members.groupBy("cluster_id").agg(
                F.min(id_col).alias("dup_of")
            )
            intra = (
                members.join(canon, on="cluster_id")
                .filter(F.col(id_col) != F.col("dup_of"))
                .select(id_col, "dup_of")
            )
            rejects = intra if vs_index is None else vs_index.unionByName(intra)
            rejects = rejects.persist()
            to_unpersist.append(rejects)
            rejected = batch_df.join(rejects, on=id_col, how="inner")
            accepted = batch_df.join(
                rejects.select(id_col), on=id_col, how="left_anti"
            )
            rejected.write.mode("append").parquet(rejected_dir)
            accepted.write.mode("append").parquet(accepted_dir)
            # index append from the SAME derived relations, filtered to
            # accepted docs; banded first, hs second — the replay guard
            # keys on hs, so a crash between the writes re-derives the
            # batch instead of leaving docs invisible to candidates
            # no broadcast hint: in backfill mode (availableNow, no file
            # cap) ONE microbatch can be the whole corpus, and a forced
            # driver-built broadcast of its id set would OOM — AQE still
            # broadcasts when the batch is actually small
            keep = accepted.select(F.col(id_col).alias("id"))
            banded_new.join(keep, on="id").write.mode("append").parquet(
                f"{idx.path}/banded"
            )
            hs_new.join(keep, on="id").write.mode("append").parquet(
                f"{idx.path}/hs"
            )
            if (
                compact_every_batches
                and (batch_id + 1) % compact_every_batches == 0
                and _fs_exists(spark, f"{idx.path}/hs")
                and _fs_exists(spark, f"{idx.path}/banded")
            ):
                idx.compact(target_files=compact_target_files)
        finally:
            # unpersist exactly what this batch persisted — a global
            # catalog.clearCache() here would evict every cached
            # DataFrame in the whole session (including the caller's
            # unrelated cached work) on every microbatch
            for df_ in to_unpersist:
                df_.unpersist()

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_embedding_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    index_path: str,
    accepted_dir: str,
    rejected_dir: str,
    checkpoint_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 3,
    n_tables: int = 8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    fmt: str = "parquet",
    compact_every_batches: int | None = None,
    compact_target_files: int = 8,
) -> StreamingQuery:
    """Streaming EMBEDDING-dedup gate — the vector-space twin of
    :func:`start_dedup_stream`: tail a directory of embedding rows and
    reject each microbatch's cosine-near-duplicates against everything
    accepted so far (semantic dedup: paraphrases and re-encodes that
    text shingles miss).

    Per microbatch the batch's sign-mask band relation is derived ONCE
    (:class:`~polardbx_tools_spark.operators.similarity.EmbeddingLshIndex`)
    and reused by every step:

    1. batch vs the persistent index — candidates from bucket
       collisions in ANY hash table, verified with exact cosine >=
       ``threshold`` (cost ∝ batch x collisions; the corpus side is the
       materialized banded/vecs parquet, never re-masked);
    2. batch-internal near-dup CLUSTERS (connected components over the
       verified intra-batch pair graph): one canonical per cluster —
       the lowest id not already rejected against the index — is kept,
       the rest reject against it, so every ``dup_of`` is an ACCEPTED
       row (same chain-reject rule as the text gate);
    3. rejected rows land with their ``dup_of``; accepted rows land in
       ``accepted_dir`` AND append to the index (banded first, vecs
       second — presence in vecs is the replay guard's "indexed"
       signal, so a crash between the writes re-derives the batch).

    Replay idempotence mirrors the text gate: a replayed microbatch is
    anti-joined against indexed ∪ rejected ids before anything runs.
    ``compact_every_batches`` folds the index's small files every N
    batches (``EmbeddingLshIndex.compact``; a crashed fold is healed by
    ``repair()`` at the next batch).

    Same sink caveat as the text gate: accepted/rejected are plain
    parquet appends, not the lake's atomic snapshot — a crash BETWEEN
    a batch's accepted write and its index append re-processes that
    batch on restart (the guard keys on vecs presence), which can leave
    that one batch's rows at-least-once in accepted_dir while keeping
    the INDEX complete (the contract that matters for dedup quality:
    the alternative — guarding on accepted ids — would leave
    accepted-but-unindexed rows invisible to candidate generation
    forever). Route accepted rows through the lake merge, or dedup by
    id downstream, when exactly-once output matters."""
    from polardbx_tools_spark.operators.dedup import duplicate_clusters
    from polardbx_tools_spark.operators.similarity import (
        EmbeddingLshIndex, _verify_cosine_pairs,
    )

    idx = EmbeddingLshIndex(
        spark, index_path, dim=dim, n_planes=n_planes, n_tables=n_tables
    )

    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)

    def apply(batch_df, batch_id: int) -> None:
        # always heal a crashed compact() before the existence probe
        # (see the text gate's note — a missing vecs/ would read as
        # "no index" and re-accept duplicates of the whole corpus)
        idx.repair()
        have_index = _fs_exists(spark, f"{idx.path}/vecs")
        seen = None
        if have_index:
            seen = spark.read.parquet(f"{idx.path}/vecs").select(
                F.col("id").alias(id_col)
            )
        if _fs_exists(spark, rejected_dir):
            rej_ids = spark.read.parquet(rejected_dir).select(id_col)
            seen = rej_ids if seen is None else seen.unionByName(rej_ids)
        if seen is not None:
            batch_df = batch_df.join(seen, on=id_col, how="left_anti")
        batch_df = batch_df.persist()
        to_unpersist = [batch_df]
        try:
            banded_new = idx._derive(batch_df, id_col, vec_col).persist()
            to_unpersist.append(banded_new)
            vecs_new = banded_new.filter(F.col("t") == 0).select(
                "id", "v", "nv"
            )

            def verify(cands, a_col, b_col, vecs_right):
                return _verify_cosine_pairs(
                    cands, a_col, b_col, vecs_new, vecs_right, threshold
                ).select(a_col, b_col)

            if have_index:
                banded_old = spark.read.parquet(f"{idx.path}/banded")
                vecs_old = spark.read.parquet(f"{idx.path}/vecs")
                cands = (
                    banded_new.select(F.col("id").alias(id_col), "t", "bucket")
                    .join(banded_old.select(F.col("id").alias("dup_of"),
                                            "t", "bucket"),
                          on=["t", "bucket"])
                    .select(id_col, "dup_of")
                    .distinct()
                )
                vs_index = (
                    verify(cands, id_col, "dup_of", vecs_old)
                    .groupBy(id_col)
                    .agg(F.min("dup_of").alias("dup_of"))
                    .persist()
                )
                to_unpersist.append(vs_index)
            else:
                vs_index = None
            a = banded_new.select(F.col("id").alias("id_a"), "t", "bucket")
            b = banded_new.select(F.col("id").alias("id_b"), "t", "bucket")
            cands = (
                a.join(b, on=["t", "bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            pairs = verify(cands, "id_a", "id_b", vecs_new)
            clusters = duplicate_clusters(pairs)
            members = (
                clusters.withColumnRenamed("doc_id", id_col)
                if vs_index is None
                else clusters.withColumnRenamed("doc_id", id_col)
                .join(vs_index.select(id_col), on=id_col, how="left_anti")
            )
            canon = members.groupBy("cluster_id").agg(
                F.min(id_col).alias("dup_of")
            )
            intra = (
                members.join(canon, on="cluster_id")
                .filter(F.col(id_col) != F.col("dup_of"))
                .select(id_col, "dup_of")
            )
            rejects = intra if vs_index is None else vs_index.unionByName(intra)
            rejects = rejects.persist()
            to_unpersist.append(rejects)
            rejected = batch_df.join(rejects, on=id_col, how="inner")
            accepted = batch_df.join(
                rejects.select(id_col), on=id_col, how="left_anti"
            )
            rejected.write.mode("append").parquet(rejected_dir)
            accepted.write.mode("append").parquet(accepted_dir)
            # no broadcast hint: in backfill mode (availableNow, no file
            # cap) ONE microbatch can be the whole corpus, and a forced
            # driver-built broadcast of its id set would OOM — AQE still
            # broadcasts when the batch is actually small
            keep = accepted.select(F.col(id_col).alias("id"))
            banded_acc = banded_new.join(keep, on="id")
            banded_acc.select("id", "t", "bucket").write.mode(
                "append"
            ).parquet(f"{idx.path}/banded")
            banded_acc.filter(F.col("t") == 0).select(
                "id", "v", "nv"
            ).write.mode("append").parquet(f"{idx.path}/vecs")
            if (
                compact_every_batches
                and (batch_id + 1) % compact_every_batches == 0
                and _fs_exists(spark, f"{idx.path}/vecs")
                and _fs_exists(spark, f"{idx.path}/banded")
            ):
                idx.compact(target_files=compact_target_files)
        finally:
            for df_ in to_unpersist:
                df_.unpersist()

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
