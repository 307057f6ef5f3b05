"""Structured-Streaming ingest facade (SURVEY.md §2.9).

The reference is a pure batch pipeline — there are no streaming operators to
reproduce. For continuous Common-Crawl-style ingest, the idiomatic Spark
bridge is ``readStream`` over the landing directory + ``foreachBatch``
running the SAME batch transforms (extraction is per-document and stateless,
so exactly-once follows from the sink's idempotent append keyed by url).
Late data needs no watermark: there are no event-time aggregations in the
extraction path; the downstream KG build runs on checkpointed snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract_triples import extract_text_df, extract_triples
from ..schema import DOCUMENTS_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def write_batch_idempotent(triples: DataFrame, batch_id: int, output_dir: str) -> None:
    """Idempotent foreachBatch sink: foreachBatch is AT-LEAST-once (a batch
    re-runs after a mid-write failure), so a plain parquet append would
    duplicate the retried batch's triples. Writing into a deterministic
    ``batch_id=<n>`` partition with DYNAMIC partition overwrite makes the
    retry replace its own partition and touch nothing else — the standard
    exactly-once recipe for file sinks under foreachBatch. Readers scan
    ``output_dir`` recursively like any partitioned table."""
    (
        triples.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_dir)
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    scorer=None,
) -> StreamingQuery:
    """Continuous documents → triples: each micro-batch runs the fused batch
    extraction. Restart-safe via the stream checkpoint; exactly-once output
    via the idempotent per-batch partition overwrite (see
    write_batch_idempotent — append alone would double triples on a
    foreachBatch retry)."""
    stream = stream_documents(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        triples = extract_triples(extract_text_df(batch_df), scorer=scorer)
        write_batch_idempotent(triples, batch_id, output_dir)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Custom stateful operator: cross-micro-batch first-seen dedup keyed by
    url via ``applyInPandasWithState`` — re-delivered documents (WARC refetch,
    at-least-once sources) pass through exactly once. State per url is a
    single seen flag, kept forever (no timeout), so the availableNow query
    ends once its input is drained; on a real cluster the state store shards
    by the url hash. (The reference has no streaming; this is the idiomatic
    Spark counterpart to its offline `if spo not in list` dedup.)"""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain the iterator per the API contract
                pass
            return iter(())
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.sort_values("warc_ts").head(1)
        if first is None:
            return iter(())
        state.update((True,))
        return iter([first[["url", "text", "lang"]]])

    stream = stream_documents(spark, input_dir)
    deduped = (
        stream.groupBy("url")
        .applyInPandasWithState(
            dedup,
            outputStructType="url string, text string, lang string",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def first_seen_dedup_batch(
    docs: DataFrame, key_col: str = "url", order_cols: tuple[str, ...] = ("warc_ts",),
) -> DataFrame:
    """Batch twin of ``start_dedup_stream``'s applyInPandasWithState operator:
    keep the FIRST-delivered row per key (same contract — the streaming op
    keeps the first micro-batch arrival, this keeps the first by the given
    delivery order). One window shuffle on the key; the driver oracle
    hash-checks it against DuckDB's row_number()=1.

    Determinism: ``order_cols`` should be a total order per key (a unique
    delivery id, or warc_ts at sufficient resolution); ties are broken by
    the remaining columns' values so the survivor is still a deterministic
    function of the row SET, never of partitioning. Unorderable tiebreak
    columns (maps — TRIPLE_SCHEMA rows carry them) are ordered by their JSON
    serialization instead of raising an AnalysisException."""
    from pyspark.sql import Window, functions as F
    from pyspark.sql import types as T

    def orderable(dt: T.DataType) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    tiebreak = [
        F.col(f.name) if orderable(f.dataType) else F.to_json(f.name)
        for f in docs.schema.fields
        if f.name != key_col and f.name not in order_cols
    ]
    w = Window.partitionBy(key_col).orderBy(*order_cols, *tiebreak)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def start_windowed_counts_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    events_schema: str = "event_id bigint, ts timestamp, user_id bigint, "
                         "event_type string, value double",
    window_len: str = "1 hour",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Event-time tumbling-window counts with a watermark: late rows beyond
    the watermark are dropped, finalized windows append exactly once. The
    batch twin of this aggregation is the oracle-checked ``window_hourly``
    query — same expression, streaming semantics."""
    stream = (
        spark.readStream.schema(events_schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches per run →
        .parquet(input_dir)               # the watermark advances in-run
    )
    from pyspark.sql import functions as F

    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    return (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_session_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    events_schema: str = "event_id bigint, ts timestamp, user_id bigint, "
                         "event_type string, value double",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> StreamingQuery:
    """Event-time SESSION windows per user (built-in ``session_window``:
    state merges events whose gaps stay under ``gap``; the watermark closes
    a session once event time has moved ``gap`` + ``watermark`` past its
    last event, emitting it exactly once). This is the streaming twin of
    ``operators.sessions.sessionize``, with one boundary divergence:
    ``session_window`` starts a NEW session when a gap EQUALS the threshold
    (window extent is [last_ts, last_ts + gap)), while batch sessionize
    merges it (strict '>', matching the DuckDB oracle). Events at exact
    multiples of the gap therefore split here and merge in batch; the batch
    differential in tests uses gap values that avoid exact-boundary ties and
    asserts identical (count, duration) multisets."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(events_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"), "n_events")
    )
    return (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _min_referrer(pdfs):
    """Global ``(src, anchor)`` minimum over EVERY pandas chunk of one
    state group. A group can span multiple chunks in a micro-batch and
    chunk boundaries are arbitrary, so taking the first non-empty chunk's
    minimum would be nondeterministic across runs and across
    checkpoint-recovery replays of the same batch (round-5 ADVICE).
    Returns a 1-row DataFrame or None for an all-empty group."""
    first = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        head = pdf.sort_values(["src", "anchor"]).head(1)
        if first is None or (
            tuple(head.iloc[0][["src", "anchor"]])
            < tuple(first.iloc[0][["src", "anchor"]])
        ):
            first = head
    return first


def start_frontier_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    canonicalize: bool = True,
) -> StreamingQuery:
    """Continuous crawl-frontier discovery: the documents stream →
    ``extract_links`` (stateless Catalyst transforms stream fine) →
    cross-micro-batch FIRST-SEEN dedup keyed on the canonical destination
    url via ``applyInPandasWithState`` → append of newly discovered urls
    with the first referring page and anchor. Re-crawled pages re-emitting
    the same links produce nothing — the frontier output is exactly the set
    of urls never seen before, the feed a crawler's scheduler consumes.
    State is one seen flag per destination, kept forever (no timeout, as in
    start_dedup_stream). (The reference has no crawler; this is the
    idiomatic streaming face of the web-graph operators in
    operators/web.py.)"""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.web import extract_links

    def first_seen(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain per the API contract
                pass
            return iter(())
        first = _min_referrer(pdfs)
        if first is None:
            return iter(())
        state.update((True,))
        return iter([first[["dst", "src", "anchor"]]])

    links = extract_links(stream_documents(spark, input_dir),
                          canonicalize=canonicalize)
    frontier = (
        links.groupBy("dst")
        .applyInPandasWithState(
            first_seen,
            outputStructType="dst string, src string, anchor string",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        frontier.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


TRIPLES_STREAM_SCHEMA = ("url string, subject string, predicate string, "
                         "object string, ts bigint")


def start_kg_merge_stream(
    spark: SparkSession,
    input_dir: str,
    catalog_root: str,
    checkpoint_dir: str,
    table: str = "kg_edges",
    compact_every: int = 8,
) -> StreamingQuery:
    """Continuous incremental KG maintenance: a stream of extracted triples
    (the ``start_extraction_stream`` landing shape, flattened) folds into a
    standing catalog table per micro-batch through
    ``fold_triples_batch_mor`` — ``kg_delta.triple_provenance`` lands as one
    delta file (O(|batch|) per fold), consumers read the live table through
    ``read_merged_table``, and every ``compact_every`` pending deltas a
    compaction materializes a new snapshot. This is the streaming face of
    the re-crawl delta merge, the loop a 10^12-document deployment runs
    forever.

    Exactly-once across foreachBatch's at-least-once retries AND stream
    restarts: a batch whose id is at or below the highest id already folded
    (the snapshot's ``_applied_batch`` or a committed delta id) is a no-op
    BEFORE any write; each delta and each compaction commits atomically
    behind the catalog's ``_SUCCESS`` marker, so a crash mid-write leaves
    the previous state live. Contract: ONE stream (one checkpoint dir) per
    catalog table — batch ids are monotone only within a checkpoint
    lineage, which is also the catalog's single-writer contract.

    Reference parity: the reference rebuilds its KG dicts per run
    (utils/kg.py:36-57); incremental maintenance is the web-scale addition
    (see operators/kg_delta.py).
    """
    triples = (
        spark.readStream.schema(TRIPLES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_triples_batch_mor(batch_df, batch_id, catalog_root, table,
                               compact_every=compact_every)

    return (
        triples.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _applied_batch_of(cat, table: str) -> int:
    """High-water batch id of the committed snapshot (-1 when the table
    does not exist yet — delta/batch ids are stream batch ids, ≥ 0)."""
    if not cat.exists(table):
        return -1
    row = cat.read(table).select("_applied_batch").limit(1).first()
    return -1 if row is None else int(row[0])


def fold_triples_batch_mor(
    batch_df: DataFrame, batch_id: int, catalog_root: str,
    table: str = "kg_edges", compact_every: int = 8,
) -> bool:
    """Merge-on-read fold step: O(|batch|) per fold, not a rewrite of the
    whole table. The batch's provenance lands as ONE committed delta file
    (``Catalog.write_delta``); reads go through ``read_merged_table``
    (base ∪ pending deltas via ``kg_delta.merged_view``); every
    ``compact_every`` pending deltas a compaction folds them into a new
    snapshot — so amortized fold cost is O(|batch| + |table|/compact_every)
    and NO fold blocks on a full-table rewrite.

    Exactly-once across at-least-once replays and restarts: the replay
    guard is ``batch_id ≤ max(snapshot's _applied_batch, committed delta
    ids)`` — checked BEFORE any write; a crash between a compaction's
    snapshot commit and its delta cleanup leaves stale deltas that the
    read path filters out (ids ≤ _applied_batch) and the next compaction
    removes. Returns False on the replay no-op."""
    from ..operators.kg_delta import triple_provenance
    from ..plans.catalog import Catalog

    spark = batch_df.sparkSession
    cat = Catalog(spark, catalog_root)
    applied = _applied_batch_of(cat, table)
    delta_ids = cat.committed_delta_ids(table)
    if batch_id <= max([applied, *delta_ids]):
        return False  # at-least-once replay of an already-folded batch
    delta = triple_provenance(batch_df, seen_col="ts") \
        .withColumn("_seq", F.lit(batch_id).cast("bigint"))
    cat.write_delta(table, batch_id, delta)
    pending = [i for i in delta_ids if i > applied] + [batch_id]
    if len(pending) >= compact_every:
        compact_table(spark, catalog_root, table)
    return True


def read_merged_table(
    spark: SparkSession, catalog_root: str, table: str = "kg_edges",
) -> DataFrame:
    """The live merge-on-read view: latest snapshot ∪ pending deltas,
    adjudicated by ``kg_delta.merged_view`` — what consumers (and
    compaction) read between compactions. Stale deltas already folded
    into the snapshot (crash window) are filtered out by id."""
    from ..operators.kg_delta import merged_view
    from ..plans.catalog import Catalog

    cat = Catalog(spark, catalog_root)
    applied = _applied_batch_of(cat, table)
    ids = [i for i in cat.committed_delta_ids(table) if i > applied]
    base = (cat.read(table).drop("_applied_batch")
            if cat.exists(table) else None)
    if not ids:
        if base is None:
            raise FileNotFoundError(
                f"table {table}: no snapshot and no deltas in {catalog_root}")
        return base
    deltas = cat.read_deltas(table, ids)
    return merged_view(base, deltas, last_seq=max(ids))


def compact_table(
    spark: SparkSession, catalog_root: str, table: str = "kg_edges",
) -> bool:
    """Materialize the merge-on-read view into a new snapshot and clear
    the folded deltas (plus any stale ones a crash left behind). Atomic
    via the catalog's _SUCCESS-gated versioned commit: a crash mid-write
    leaves the previous snapshot + deltas live. Returns False when there
    was nothing pending."""
    from ..plans.catalog import Catalog

    cat = Catalog(spark, catalog_root)
    applied = _applied_batch_of(cat, table)
    all_ids = cat.committed_delta_ids(table)
    pending = [i for i in all_ids if i > applied]
    stale = [i for i in all_ids if i <= applied]
    if not pending:
        if stale:
            cat.drop_deltas(table, stale)
        return False
    merged = read_merged_table(spark, catalog_root, table)
    cat.write(table, merged.withColumn(
        "_applied_batch", F.lit(max(pending)).cast("bigint")))
    cat.drop_deltas(table, all_ids)
    return True

