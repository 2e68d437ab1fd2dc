package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism restorer for CPU-heavy narrow pipelines over small
  * inputs (r20 optimization round).
  *
  * A parquet scan smaller than one input split is ONE task, and every
  * downstream narrow stage (explode + hash + aggregate-partial chains)
  * then serializes on a single core — profiled at sf0.1: corpus_dsir
  * ran 38 tasks with taskTime ≈ wall (zero effective parallelism,
  * ~11 s of single-core md5/conv work over a 584 KB file). A parquet
  * file with one row group cannot be split by the reader, so
  * files.maxPartitionBytes / minPartitionNum cannot help; the only way
  * to spread the work is an explicit round-robin exchange.
  *
  * Scale guard: the repartition happens ONLY when the optimizer's size
  * estimate says the whole relation is below one default split
  * (spark.sql.files.maxPartitionBytes) — i.e. exactly the regime
  * where the scan degenerates to ~1 task. At 100 TB the estimate is
  * far past the threshold and this is the identity, so no corpus-sized
  * shuffle is ever introduced. The exchanged bytes are by construction
  * sub-split-sized.
  *
  * Result invariance: callers apply this only where row-to-partition
  * placement cannot affect output — per-row expressions, per-doc
  * aggregates whose groups ride one input row (explode keeps a row's
  * children in its partition), and integer/order-free sums. The
  * oracle pack re-verifies every such query.
  */
object Spread {
  def cpu(df: DataFrame): DataFrame = cpu(df, df)

  /** The one guarded body. The size estimate ALWAYS comes from
    * `guard`, never from `df`; with no `keys` the exchange is
    * round-robin, with `keys` it hash-partitions by them. Two callers
    * pass a guard other than `df`:
    *
    *  - Key-partitioned (r21): an equi-join keyed on exactly `keys`
    *    reuses the partitioning (no further exchange), and the join's
    *    per-pair work — instead of one AQE-coalesced task over a
    *    sub-split build — runs at full parallelism. `df` there is often
    *    a localCheckpointed relation whose LogicalRDD stats default to
    *    "huge" and would wrongly disable the spread at exactly the
    *    small sizes it exists for, so the guard is a scan-adjacent
    *    relation whose estimate is file-based. Keep guards
    *    scan-adjacent so the estimate cannot undershoot.
    *  - Streaming (r20 wave 2): a streaming plan has no usable size
    *    estimate, so the guard is a BATCH relation over the same input.
    *    One unsplittable sub-split file makes the whole micro-batch ONE
    *    task (profiled: stream_bm25's scoring stage ran single-core).
    *    STATELESS downstream operators only — a round-robin placement
    *    upstream of keyed state would be re-shuffled by the state
    *    partitioning anyway, so it serves the stateless scorers where
    *    placement provably cannot change rows.
    *
    *    ASSUMPTIONS (r21, ADVICE): the guard must read the SAME input
    *    as the stream, and the decision is taken ONCE at plan-build
    *    time from the guard's size — nothing re-evaluates it per
    *    micro-batch. For a genuinely GROWING ingest source that starts
    *    sub-split, the repartition is baked in and every later large
    *    micro-batch pays a full shuffle; the "identity at scale"
    *    guarantee therefore only holds when the source is already at
    *    its representative size at setup (true for the replayed-file
    *    benches this serves). Callers with growing sources should
    *    rebuild the query periodically or skip the spread. */
  def cpu(df: DataFrame, guard: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.sessionState.conf.filesMaxPartitionBytes
    val size = guard.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = spark.sparkContext.defaultParallelism
    if (size > threshold) df
    else if (keys.isEmpty) df.repartition(n)
    else df.repartition(n, keys: _*)
  }
}
