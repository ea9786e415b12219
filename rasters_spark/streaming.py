"""Structured Streaming ingest — append-only tile batches → indexed table.

The reference is entirely batch (SURVEY §2.9); streaming is net-new
design: new image files land in a directory (the stand-in for an
Iceberg append feed), ``readStream`` picks them up, the SAME stateless
cell-index stage used in batch runs per micro-batch, and
``foreachBatch`` commits each batch as one TableIO snapshot — giving
exactly-once-per-batch semantics on top of the checkpoint log.

``trigger(availableNow=True)`` drains everything pending and stops —
the incremental-backfill mode; remove it for continuous ingest.
Replayed sources dedup by image_id within the batch (the
dropDuplicatesWithinWatermark analogue for our id-keyed feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rasters_spark import fixtures
from rasters_spark.tableio import TableIO
from rasters_spark.tiles import tiles_with_cells, with_grid

TILE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("x_origin", T.DoubleType()),
    T.StructField("y_origin", T.DoubleType()),
    T.StructField("cell_width", T.DoubleType()),
    T.StructField("cell_height", T.DoubleType()),
    T.StructField("crs", T.StringType()),
])


def index_batch(df: DataFrame, level: int = fixtures.CELL_LEVEL) -> DataFrame:
    """The stateless per-batch stage: derive grid/bbox, register cells —
    identical code path to the batch engine (tiles.py)."""
    out = tiles_with_cells(with_grid(df), level)
    return out.select("image_id", "cell_id", "caption", "phash",
                      "x_origin", "y_origin", "cell_width", "cell_height", "w", "h")


def windowed_counts_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    delay: str = "2 hours",
    query_name: str = "win_counts",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream,
    drained with availableNow (late-data contract: append mode emits a
    window only once its end falls below the final watermark
    ``max(ts) − delay`` — so the result is a DETERMINISTIC function of
    the drained input, which the DuckDB oracle recomputes in batch SQL).
    → (epoch_hour, n_events, value_min, value_max)."""
    schema = spark.read.parquet(src_dir).schema
    ev = spark.readStream.schema(schema).parquet(src_dir)
    # parquet NTZ timestamps → TIMESTAMP (watermarks require the tz type;
    # session tz is UTC so epoch arithmetic matches the DuckDB oracle)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n_events"),
             F.min("value").alias("value_min"),
             F.max("value").alias("value_max"))
    )
    q = (
        agg.writeStream.format("memory").queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).select(
        (F.unix_timestamp(F.col("win")["start"]) / 3600).cast("long").alias("epoch_hour"),
        "n_events", "value_min", "value_max",
    )


def stateful_user_counts_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_counts",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user cumulative event counts carried in GroupState across
    micro-batches (update mode re-emits a user's running total each
    batch; the FINAL total per user — max over emissions — equals the
    batch groupBy count, which is the oracle). → (user_id, n_events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(src_dir).schema

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    ev = spark.readStream.schema(schema).parquet(src_dir)
    counts = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counts.writeStream.format("memory").queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"))


def stream_point_sample_join_available_now(
    spark: SparkSession,
    points_path: str,
    tiles: DataFrame,
    table: TableIO,
    checkpoint_dir: str,
) -> DataFrame:
    """The flagship spatial join as a STREAM-STATIC pipeline: points
    arrive as a file stream, each micro-batch runs the identical batch
    join + nearest-sampling operators against the static tile table,
    and foreachBatch commits the matched rows as one TableIO snapshot
    (exactly-once per batch on top of the source checkpoint — the
    streaming face of the north rule's resumable, lineage-tracked job).
    Drained with availableNow, the union of snapshots equals the batch
    query bit-for-bit, so the DuckDB oracle is the SAME SQL as
    ``point_sample_join``. Returns the committed rows."""
    from rasters_spark.operators import point_join, sample

    schema = spark.read.parquet(points_path).schema
    pts = spark.readStream.schema(schema).parquet(points_path)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        j = point_join.point_in_tile_join(batch_df.dropDuplicates(["point_id"]), tiles)
        out = sample.sample_nearest(j).select(
            "point_id", "image_id", "prow", "pcol", "value", "caption")
        table.write(out, operation="stream-join", job_id="stream_join",
                    chunk_id=f"batch-{batch_id}", inputs=[points_path])

    q = (
        pts.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark)


def stream_xyz_pyramid_available_now(
    spark: SparkSession,
    tiles_path: str,
    table: TableIO,
    checkpoint_dir: str,
    z: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL XYZ pyramid maintenance — the streaming face of the
    pyramid build (functions/xyz.py): tiles arrive as a file stream;
    each micro-batch routes its pixels onto the global zoom-``z``
    Web-Mercator pyramid and commits PER-BATCH PARTIALS
    (xtile, ytile, n_pixels, vsum) as one TableIO snapshot —
    exactly-once per batch on the source checkpoint, resumable, with
    lineage per snapshot. The returned final reduce sums the partials;
    because the fixture pixel sums are exact doubles the result is
    bit-identical to the one-shot batch build, so the DuckDB oracle is
    the SAME SQL as ``xyz_pyramid_stats``. At 10^12 tiles this is the
    production shape: the pyramid is never rebuilt, only incremented
    snapshot by snapshot as new imagery lands."""
    from rasters_spark.functions import xyz as xyzfn

    schema = spark.read.parquet(tiles_path).schema
    ts = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(tiles_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        part = xyzfn.xyz_pyramid_stats(
            batch_df.dropDuplicates(["image_id"]).filter("fmt = 'raw'"), z)
        table.write(part, operation="stream-pyramid", job_id="xyz_pyramid",
                    chunk_id=f"batch-{batch_id}", inputs=[tiles_path])

    q = (
        ts.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).groupBy("xtile", "ytile").agg(
        F.sum("n_pixels").alias("n_pixels"), F.sum("vsum").alias("vsum"))


def stream_histogram_available_now(
    spark: SparkSession,
    tiles_path: str,
    table: TableIO,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    nbins: int,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL global histogram — the streaming face of
    ``operators.stats.histogram``: each micro-batch commits its
    per-bin partial counts (≤ nbins skinny rows) as one exactly-once
    TableIO snapshot; the final reduce sums the partials. Pure integer
    counts, so the result is EXACTLY the one-shot batch histogram and
    the DuckDB oracle is the same SQL as ``tile_histogram``. The
    production shape for a distribution monitor over a tile firehose:
    the histogram is never recomputed, only incremented."""
    from rasters_spark.operators import stats as statsops

    schema = spark.read.parquet(tiles_path).schema
    ts = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(tiles_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        part = statsops.histogram(
            batch_df.dropDuplicates(["image_id"]).filter("fmt = 'raw'"),
            lo, hi, nbins)
        table.write(part, operation="stream-histogram", job_id="histogram",
                    chunk_id=f"batch-{batch_id}", inputs=[tiles_path])

    q = (
        ts.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).groupBy("bin").agg(
        F.sum("n_pixels").alias("n_pixels"))


def ingest_available_now(
    spark: SparkSession,
    src_dir: str,
    table: TableIO,
    checkpoint_dir: str,
    level: int = fixtures.CELL_LEVEL,
) -> int:
    """Drain all pending parquet files from src_dir into the indexed
    table; returns number of micro-batches committed. Restart-safe:
    Spark's checkpoint tracks consumed files, TableIO's ledger tracks
    committed batches."""
    stream = spark.readStream.schema(TILE_SCHEMA).parquet(src_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        indexed = index_batch(batch_df.dropDuplicates(["image_id"]), level)
        table.write(indexed, operation="stream-append",
                    job_id="ingest", chunk_id=f"batch-{batch_id}", inputs=[src_dir])

    q = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len([s for s in table.snapshots() if s["operation"] == "stream-append"])


def stream_minhash_dedup_available_now(
    spark: SparkSession,
    docs_path: str,
    table: TableIO,
    state_docs: TableIO,
    state_bands: TableIO,
    checkpoint_dir: str,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    jaccard_k: int = 3,
    threshold: float = 0.85,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL near-duplicate filtering at ingest — the streaming
    face of the MinHash+LSH dedup family (datapipe/dedup.py): documents
    arrive as a file stream; each micro-batch MinHash-bands its docs,
    probes them against the DISK-BACKED state of everything seen so far
    (the band table, appended per batch as TableIO snapshots and never
    recomputed from text; texts re-attach only for matched candidate
    ids — index-then-fetch. The state is a table, not executor memory,
    so it scales to the 10^12-doc corpus, bucketed on (band, bucket)
    at rest),
    generates candidates (new⋈prior plus new⋈new within the batch),
    verifies them with the EXACT k-gram Jaccard (dedup's
    verify-then-emit rule — every emitted pair is exact), and commits
    the verified (doc_id, dup_of, j) partials exactly-once.

    A pair (a < b) is evaluated exactly once — in the micro-batch where
    the LATER of the two arrives — so the final reduce (per doc: the
    MINIMUM dup_of and that pair's j) is independent of arrival order
    and equals the batch answer: the DuckDB oracle is the exact-Jaccard
    pair set grouped per doc (complete LSH recall on the fixtures is
    what licenses it, as for minhash_lsh_pairs).
    → (doc_id, dup_of, j)."""
    from rasters_spark.datapipe import dedup

    schema = spark.read.parquet(docs_path).schema
    ds = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(docs_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        new_docs = batch_df.dropDuplicates(["doc_id"]).select("doc_id", "text")
        banded_new = dedup.minhash_band_table(new_docs, k, num_hashes, bands)
        n_prior_snaps = len(state_bands.snapshots())
        cand_parts = []
        # in-batch pairs (both sides new)
        a = banded_new.alias("a")
        b = banded_new.alias("b")
        cand_parts.append(
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")))
        if n_prior_snaps:
            # the signatures of everything seen so far come from the
            # band-table STATE — never recomputed from text
            banded_prior = state_bands.read(spark)
            p = banded_prior.alias("p")
            n = banded_new.alias("n")
            # prior⋈new, smaller id first regardless of arrival order
            pn = p.join(n, (F.col("p.band") == F.col("n.band"))
                        & (F.col("p.bucket") == F.col("n.bucket"))
                        & (F.col("p.doc_id") != F.col("n.doc_id")))
            cand_parts.append(pn.select(
                F.least("p.doc_id", "n.doc_id").alias("doc_a"),
                F.greatest("p.doc_id", "n.doc_id").alias("doc_b")))
        cand = cand_parts[0]
        for c in cand_parts[1:]:
            cand = cand.unionByName(c)
        cand = cand.distinct()
        pool = new_docs if not n_prior_snaps else \
            new_docs.unionByName(state_docs.read(spark).select("doc_id", "text"))
        ids = (cand.select(F.col("doc_a").alias("doc_id"))
               .unionByName(cand.select(F.col("doc_b").alias("doc_id"))).distinct())
        verified = dedup._verify_candidates(
            pool.join(ids, "doc_id", "left_semi"), cand, jaccard_k, threshold)
        out = verified.select(F.col("doc_b").alias("doc_id"),
                              F.col("doc_a").alias("dup_of"), "j")
        table.write(out, operation="stream-dedup", job_id="minhash_dedup",
                    chunk_id=f"batch-{batch_id}", inputs=[docs_path])
        state_docs.write(new_docs, operation="stream-dedup-state",
                         job_id="minhash_dedup", chunk_id=f"docs-{batch_id}")
        state_bands.write(banded_new, operation="stream-dedup-state",
                          job_id="minhash_dedup", chunk_id=f"bands-{batch_id}")

    q = (
        ds.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = table.read(spark)
    # per doc: the minimum-id verified partner and that pair's jaccard
    return rows.groupBy("doc_id").agg(
        F.min("dup_of").alias("dup_of"), F.min_by("j", "dup_of").alias("j"))


def stream_composite_available_now(
    spark: SparkSession,
    tiles_path: str,
    table: TableIO,
    checkpoint_dir: str,
    target: dict,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL greatest-value composite — the streaming face of
    ``resample.composite_max``: each micro-batch commits its per-cell
    partial (max value, attaining epoch with min-tie, n_obs) as one
    exactly-once TableIO snapshot; the final reduce merges partials
    with the SAME (value, −epoch) struct-max plus an n_obs sum. The
    merge is associative and exact (max of quarter-integer doubles,
    integer adds), so the result EXACTLY equals the one-shot batch
    composite and the oracle IS temporal_composite's SQL. This is the
    production shape for a rolling best-pixel mosaic over an imagery
    firehose: new scenes only ever RAISE cells, nothing is recomputed."""
    from rasters_spark.operators import resample

    schema = spark.read.parquet(tiles_path).schema
    ts = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(tiles_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        part = resample.composite_max(
            with_grid(batch_df.dropDuplicates(["image_id"]).filter("fmt = 'raw'")),
            target, fmts=("raw",))
        table.write(part, operation="stream-composite", job_id="composite",
                    chunk_id=f"batch-{batch_id}", inputs=[tiles_path])

    q = (
        ts.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    parts = table.read(spark)
    out = parts.groupBy("trow", "tcol").agg(
        F.max(F.struct(F.col("value").alias("v"),
                       (-F.col("epoch")).alias("ne"))).alias("b"),
        F.sum("n_obs").alias("n_obs"))
    return out.select(
        "trow", "tcol", F.col("b.v").alias("value"),
        (-F.col("b.ne")).alias("epoch"), "n_obs")


def stream_decontaminate_available_now(
    spark: SparkSession,
    docs_path: str,
    eval_docs: DataFrame,
    table: TableIO,
    checkpoint_dir: str,
    n: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL test-set decontamination at ingest — the streaming
    face of ``textstats.decontaminate``: training documents arrive as
    a file stream; the eval n-gram digest set is built ONCE (the
    persisted benchmark-digest table of a production pipeline) and
    stream-static-joined against each micro-batch's grams; per-doc
    overlap partials commit exactly-once to the TableIO ledger. A doc
    appears in exactly one batch, so the union of partials IS the
    batch answer and the oracle is decontaminate's SQL verbatim."""
    from rasters_spark.datapipe import textstats

    # build the digest set ONCE, eagerly cached, so every batch reuses it
    toks = textstats._ws_tokens(F.col("text"))
    eg = (eval_docs.select(F.explode(textstats._word_ngrams(toks, n)).alias("gram"))
          .select(F.md5(F.col("gram")).alias("g")).distinct().cache())
    eg.count()

    schema = spark.read.parquet(docs_path).schema
    ds = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(docs_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        part = textstats.decontaminate(
            batch_df.dropDuplicates(["doc_id"]).select("doc_id", "text"),
            n=n, eval_grams=eg)
        table.write(part, operation="stream-decontam", job_id="decontam",
                    chunk_id=f"batch-{batch_id}", inputs=[docs_path])

    q = (
        ds.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).select(
        "doc_id", "n_overlap_grams", "n_overlap_instances")


def stream_cohort_available_now(
    spark: SparkSession,
    events_path: str,
    table: TableIO,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """INCREMENTAL cohort retention — the streaming face of
    ``operators.events.cohort_retention``: each micro-batch commits
    its distinct (user_id, epoch_day) activity partials exactly-once;
    the final reduce de-duplicates across batches (a user active on
    one day in several batches collapses), derives day0 = min(day)
    per user, and counts distinct users per (cohort_day, offset) —
    EXACTLY the batch answer in pure integer math, so the oracle is
    cohort_retention's SQL verbatim. The activity ledger (user × day,
    bounded by users · horizon, not events) is the production shape
    for a rolling retention dashboard."""
    schema = spark.read.parquet(events_path).schema
    es = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(events_path))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        day = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                      / F.lit(86_400_000_000)).alias("day")
        part = batch_df.dropDuplicates(["event_id"]).select("user_id", day).distinct()
        table.write(part, operation="stream-cohort", job_id="cohort",
                    chunk_id=f"batch-{batch_id}", inputs=[events_path])

    q = (
        es.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    active = table.read(spark).select("user_id", "day").distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("day0"))
    j = active.join(first, "user_id")
    return (j.groupBy(F.col("day0").alias("cohort_day"),
                      (F.col("day") - F.col("day0")).alias("day_offset"))
            .agg(F.count_distinct("user_id").alias("n_users")))


def stream_sessionize_available_now(
    spark: SparkSession,
    events_path: str,
    table: TableIO,
    checkpoint_dir: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """CROSS-BATCH incremental sessionization — the stateful-streaming
    face of ``operators.events.sessionize``: events arrive as strictly
    TIME-ORDERED files (one per micro-batch); each batch is sessionized
    locally, then merged against the session STATE table: a user's
    latest open session extends with the batch's earliest session when
    the inactivity gap is ≤ the threshold (sessions spanning many
    batches merge transitively, one link per batch). The state commits
    as a TableIO ``replace`` snapshot per batch, idempotent under
    replay via completed_chunks — so the final state EXACTLY equals
    the one-shot batch sessionize and the oracle is event_sessions'
    SQL verbatim.

    Correctness requires time-ordered batches (the caller stamps file
    mtimes ascending); merged session ids stay the MIN event_id of the
    merged span (least of the two candidates), preserving the batch
    operator's engine-stable keys."""
    from pyspark.sql import Window

    from rasters_spark.operators import events as eventops

    gap_us = gap_minutes * 60_000_000
    schema = spark.read.parquet(events_path).schema
    es = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(events_path))
    cols = ["user_id", "session_id", "n_events", "n_error", "first_us", "last_us"]

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        cid = f"batch-{batch_id}"
        if cid in table.completed_chunks("sessions"):
            return
        bs = (eventops.sessionize(batch_df.dropDuplicates(["event_id"]), gap_minutes)
              .select(*cols))
        has_state = any(s["operation"] in ("append", "replace")
                        for s in table.snapshots())
        if not has_state:
            state = bs
        else:
            prev = table.read(spark).select(*cols)
            wp = Window.partitionBy("user_id").orderBy(F.col("last_us").desc())
            wb = Window.partitionBy("user_id").orderBy(F.col("first_us").asc())
            p1 = (prev.withColumn("rnp", F.row_number().over(wp))
                  .filter("rnp = 1").drop("rnp"))
            b1 = (bs.withColumn("rnb", F.row_number().over(wb))
                  .filter("rnb = 1").drop("rnb"))
            cand = (p1.alias("p").join(b1.alias("b"), "user_id")
                    .filter(F.col("b.first_us") - F.col("p.last_us") <= gap_us))
            merged = cand.select(
                "user_id",
                F.least("p.session_id", "b.session_id").alias("session_id"),
                (F.col("p.n_events") + F.col("b.n_events")).alias("n_events"),
                (F.col("p.n_error") + F.col("b.n_error")).alias("n_error"),
                F.col("p.first_us").alias("first_us"),
                F.col("b.last_us").alias("last_us"))
            dead_p = cand.select("user_id", F.col("p.session_id").alias("session_id"))
            dead_b = cand.select("user_id", F.col("b.session_id").alias("session_id"))
            state = (prev.join(dead_p, ["user_id", "session_id"], "left_anti")
                     .unionByName(bs.join(dead_b, ["user_id", "session_id"], "left_anti"))
                     .unionByName(merged))
        table.write(state, operation="replace", job_id="sessions",
                    chunk_id=cid, inputs=[events_path])

    q = (
        es.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).select(
        "user_id", "session_id", "n_events", "n_error", "first_us", "last_us",
        (F.col("last_us") - F.col("first_us")).alias("duration_us"))
