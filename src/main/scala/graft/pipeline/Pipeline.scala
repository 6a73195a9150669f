package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{ColumnGlue, RddGlue}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.util.{Failure, Try}

/** Per-run metric counters — mirrors RunStatistics
  * (reference: src/data_structures.rs:144-150, printed at
  * src/collector.rs:228-239). */
case class RunStats(rowsIn: Long, rowsDeduped: Long, rowsDroppedByFilter: Long,
                    rowsQuarantined: Long, rowsRouted: Long)

/**
 * The flagship pipeline (reference entry point 1, SURVEY.md §3.1):
 *
 *   scan sequences → anti-join known-content state (dedup, J1)
 *     → parse audit fields (F10) → rules filter (P1) → route + OriginFeed
 *     → fan out to six sink shapes → commit state + metrics.
 *
 * Spark-first shape: one declarative plan per sink over a single cached
 * batch (see `materialize`); the reference's channels/threads dissolve into the DAG
 * (SURVEY.md §3.2). Filters run BEFORE the fan-out so each sink writes the
 * minimal set; the anti-join runs BEFORE parse (cheapest-first, the
 * reference's known-blob skip-before-fetch, src/api_connection.rs:341-343).
 */
object Pipeline {

  case class Config(
    rules: Seq[RoutingRule] = DataGen.routingRules,
    saltBuckets: Int = 8,
    tenant: String = "MyTenant",
    skipKnownLogs: Boolean = true,
    // also collapse duplicate ids WITHIN one run (reference semantics:
    // sequential contains_key+insert drops in-run repeats too). Off by
    // default — it costs an exchange, and the engine's own sources carry
    // unique ids; enable for sources that can repeat ids in one batch.
    dedupWithinRun: Boolean = false,
    enabledTypes: Seq[String] = Schemas.ContentTypes,
    duplicate: Int = 1,
    nowEpochSec: Long = Parse.BaseEpoch + Parse.SpanSeconds,
    expirationEpochSec: Long = Parse.BaseEpoch + 30L * 24 * 3600,
    // persist the routed set once and serve all sinks from cache (the
    // reference clones the batch per interface). With the round-2 audit
    // kernels the full recompute is ~1.6s/10^6 rows while materializing
    // the columnar cache costs ~5s — for scan-cheap derivation pipelines
    // set false and let each concurrent sink job recompute scan-side
    // (at 100 TB this trades executor memory/spill against N re-scans;
    // keep true when the source scan dominates).
    persistRouted: Boolean = true,
    // Target rows per output file for the record sinks. 64 input
    // partitions × 8 concurrent sinks × partitionBy values = hundreds of
    // tiny parquet files per run — the classic small-files problem, paid
    // once in write overhead and forever by every downstream scan. Sizing
    // uses the already-materialized routed count and a narrow coalesce
    // (no exchange). 0 disables (one file per cache partition).
    targetRowsPerFile: Long = 250000L,
    // None = engine default: every sink shape is written (bench/test mode).
    // Some(outputConfig) = honor the reference's per-interface enablement:
    // only enabled record sinks are written; the file sink becomes a real
    // CSV at the configured path/separator/mode. Operational outputs
    // (prtg, checksums, quarantine, metrics, state) are always written.
    output: Option[OutputConfig] = None,
    // None = the default snapshot-delta StateStore at <outDir>/state.
    // Some(backend) = the known-content state lives wherever the backend
    // says — e.g. CatalogStateBackend("cat.db.known_content") for an
    // Iceberg/Delta (or plain session-catalog) table. The dedup anti-join,
    // commit ordering and run stats are identical across backends.
    stateBackend: Option[StateBackend] = None,
    // Opt-in scan-side Bloom pre-prune of the dedup anti-join once the
    // state exceeds this many rows (-1 = off, the measured default — see
    // StateStore.dedup: the filter build only pays for itself when the
    // avoided incoming exchange is network-bound).
    bloomPruneThreshold: Long = -1L,
    // Materialize the shared routed set as a localCheckpoint (raw
    // UnsafeRow blocks — skips the columnar-cache transpose/encode) instead
    // of a columnar persist. Default ON: PerfLab ckptab, 6 interleaved
    // rounds across two contention epochs, checkpoint won 5/6 (best 5.76 s
    // vs 6.48 s full pipeline) — the columnar transpose of the token
    // arrays buys nothing for a cache read back row-wise by 8 sink jobs.
    // Trade-offs, both documented for cluster use: `run` releases the
    // blocks itself once every sink write and the state commit settled
    // (not left to the ContextCleaner), and a localCheckpoint truncates
    // lineage — a lost executor fails the job instead of recomputing (the
    // run is idempotent by the overwrite contract, so a re-run is safe);
    // set false where executor churn is routine.
    cacheViaCheckpoint: Boolean = true)

  case class Result(stats: RunStats, snapshot: Option[Int])

  /** The transform core, sink-agnostic: sequences → routed records.
    * Pure function, unit-testable without I/O. `enabledTypes` mirrors the
    * reference's per-type subscriptions (src/config.rs:149-182): rows of
    * disabled types never enter the pipeline. */
  def routedRecords(sequences: DataFrame, rules: Seq[RoutingRule],
                    enabledTypes: Seq[String] = Schemas.ContentTypes): DataFrame = {
    val parsed = Parse.deriveFields(sequences)
    val subscribed =
      if (enabledTypes == Schemas.ContentTypes) parsed
      else parsed.filter(col("content_type").isin(enabledTypes: _*))
    val filtered = FilterStage.applyStatic(subscribed, rules)
    Route.routed(filtered)
  }

  /** Rows of one partition of a materialized batch, counted before the
    * `duplicate` inflation: fresh (deduped, parsed) rows, the ones that
    * passed the subscription + rules filter, and the passed rows of a
    * known content type (the rest of the passed rows are quarantined). */
  private[graft] case class PartCounts(pid: Int, fresh: Long, passed: Long, routed: Long)

  // name of the in-flight input row count (Dataset.observe)
  private val RowsInMetric = "graft_rows_in"

  /**
   * One batch, materialized once: the deduped, parsed rows with the
   * emitting task's partition id (`__pid`) and the filter outcome
   * (`__pass`). Rows the filter drops keep only their id — their payload
   * is nulled, so the cache stays close to the routed set's size — because
   * the state commits every RECEIVED id, dropped ones included (the
   * reference marks a blob known at src/collector.rs:161, before the
   * filter at :176-184). Every output of a run reads this one set: the
   * routed and quarantined rows, the ids to commit, and the per-partition
   * counts behind `stats` and the metrics sink.
   */
  private[graft] final class Batch(cached: DataFrame, parsedSchema: StructType,
                                   cfg: Config, rowsIn: Long, parts: Seq[PartCounts]) {
    // the filter's survivors with the parse schema restored: nulling the
    // dropped rows' payload made every payload column nullable, and the
    // sinks must see the same schema as a direct parse (nullability shapes
    // the parquet and JSON encodings)
    private val kept = cached.filter(col("__pass")).select(
      parsedSchema.fields.toSeq.filterNot(_.name == "__pid").map { f =>
        if (f.nullable) col(f.name)
        else ColumnGlue.column(KnownNotNull(ColumnGlue.expression(col(f.name)))).as(f.name)
      }: _*)

    // Row multiplier for load testing (reference `duplicate`,
    // src/api_connection.rs:356-368) — applied AFTER dedup, like the
    // reference (known check precedes the duplicate enqueue), and only to
    // the processing branch: the cache and the state commit hold each
    // fresh id once.
    private def inflated(df: DataFrame): DataFrame =
      if (cfg.duplicate > 1)
        df.withColumn("__dup", explode(array_repeat(lit(1), cfg.duplicate))).drop("__dup")
      else df

    val routed: DataFrame = inflated(Route.routed(kept))
    val quarantine: DataFrame = inflated(Route.quarantined(kept))
    /** Every fresh id exactly once, whatever `duplicate` is. */
    val ids: DataFrame = cached.select("doc_id")
    val rowsFresh: Long = parts.map(_.fresh).sum

    val stats: RunStats = {
      val d = cfg.duplicate.toLong
      val passed = parts.map(_.passed).sum
      val routedN = parts.map(_.routed).sum
      RunStats(
        rowsIn = rowsIn,
        rowsDeduped = rowsIn - rowsFresh,
        // dropped-by-filter includes rows of non-subscribed content types
        // (reference: unsubscribed feeds are never fetched at all)
        rowsDroppedByFilter = (rowsFresh - passed) * d,
        rowsQuarantined = (passed - routedN) * d,
        rowsRouted = routedN * d)
    }

    /** Per-partition lineage metrics (north rule): rows parsed / filtered
      * / dropped by the filter / routed / quarantined per emitting task.
      * A stage lists only the partitions it saw rows in, except
      * dropped_by_filter, which lists every parsed partition. */
    def metrics: DataFrame = {
      val d = cfg.duplicate.toLong
      val stages: Seq[(String, PartCounts => Long)] = Seq(
        "routed" -> (_.routed), "filtered" -> (_.passed), "parsed" -> (_.fresh),
        "dropped_by_filter" -> (p => p.fresh - p.passed),
        "quarantined" -> (p => p.passed - p.routed))
      val rows = for {
        (stage, n) <- stages
        p <- parts
        if n(p) > 0 || stage == "dropped_by_filter"
      } yield Row(stage, p.pid, n(p) * d)
      import scala.jdk.CollectionConverters._
      cached.sparkSession.createDataFrame(rows.asJava, Schemas.metrics)
    }

    /** Frees the cache; call once nothing reads the batch any more. */
    def release(): Unit = Pipeline.release(cached, cfg)
  }

  private def release(cached: DataFrame, cfg: Config): Unit = if (cfg.persistRouted) {
    if (cfg.cacheViaCheckpoint)
      RddGlue.checkpointRdd(cached).foreach(_.unpersist(blocking = false))
    else { cached.unpersist(); () }
  }

  /**
   * Dedup, parse and filter `sequences` into one cached set and count it in
   * the same pass: one job over the cache yields the per-partition counts
   * and fills the cache, and the input rows are counted in flight by a
   * `Dataset.observe` under the dedup, read back from the materializing
   * plan once that job ran. With `persistRouted = false` nothing is cached:
   * every output recomputes the set and the input is counted by a job.
   */
  private[graft] def materialize(spark: SparkSession, sequences: DataFrame,
                                 backend: StateBackend, cfg: Config): Batch = {
    val observed = sequences.observe(RowsInMetric, count(lit(1)))
    val fresh =
      if (cfg.skipKnownLogs)
        // sizeHint is metadata-cheap and memoized (SnapshotStateBackend →
        // liveRowCount per snapshot), so the bloom-threshold decision costs
        // no per-run count job
        StateStore.dedup(observed, backend.load(spark, cfg.nowEpochSec),
          withinBatch = cfg.dedupWithinRun,
          bloomPruneThreshold = cfg.bloomPruneThreshold,
          knownSizeHint =
            if (cfg.bloomPruneThreshold >= 0) backend.sizeHint(spark) else -1L)
      else if (cfg.dedupWithinRun) observed.dropDuplicates("doc_id")
      else observed

    // The partition id is stamped before the filter, so every per-partition
    // metric shares one lineage (the filter is narrow: the id is exactly
    // the task that parsed the row).
    val parsed = Parse.deriveFields(fresh).withColumn("__pid", spark_partition_id())
    val subscribed =
      if (cfg.enabledTypes == Schemas.ContentTypes) lit(true)
      else col("content_type").isin(cfg.enabledTypes: _*)
    // `filter` drops rows whose predicate is NULL, so the flag must be
    // non-null to classify exactly as the filter would
    val pass = coalesce(subscribed && FilterStage.predicate(parsed, cfg.rules), lit(false))
    val slim = parsed.withColumn("__pass", pass).select(
      parsed.columns.map {
        case c @ ("doc_id" | "__pid") => col(c)
        case c => when(col("__pass"), col(c)).as(c)
      } :+ col("__pass"): _*)

    val cached =
      if (!cfg.persistRouted) slim
      else if (cfg.cacheViaCheckpoint) slim.localCheckpoint(eager = false)
      else slim.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val parts = cached.groupBy("__pid")
        .agg(count(lit(1)), count_if(col("__pass")), count_if(col("__pass") && Route.isKnown))
        .collect().toSeq
        .map(r => PartCounts(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_.pid)
      val rowsIn =
        if (cfg.persistRouted && cfg.cacheViaCheckpoint)
          // the checkpoint's RDD runs `slim`'s own physical plan, so its
          // CollectMetrics node counted every input row in the job above
          slim.queryExecution.observedMetrics.get(RowsInMetric).map(_.getLong(0))
            .getOrElse(sequences.count())
        else sequences.count()
      new Batch(cached, parsed.schema, cfg, rowsIn, parts)
    } catch { case e: Throwable => release(cached, cfg); throw e }
  }

  /**
   * Full run: read → dedup → parse → filter → route → write sinks →
   * commit state. The input and the state are read once: `materialize`
   * caches the filtered set and counts it in the same pass, and every sink,
   * the state commit and the returned stats (the reference's found/saved
   * statistics) are served from that one set.
   */
  def run(spark: SparkSession, sequences: DataFrame, outDir: String,
          cfg: Config = Config()): Result = {

    val backend = cfg.stateBackend.getOrElse(
      new SnapshotStateBackend(new StateStore(s"$outDir/state")))
    val batch = materialize(spark, sequences, backend, cfg)
    val routed = batch.routed
    try {
      // Output-file sizing for the record sinks (see targetRowsPerFile):
      // never expands parallelism, only merges under-filled partitions —
      // and the MERGE is floored at the session default parallelism
      // (guide §2.6 idle capacity): the sink writes dominate the run, and
      // coalescing a small routed set below the core count (sf0.1: 393k
      // rows / 250k target = 2 write tasks on 32 cores) idles the machine
      // during its most expensive phase. At scale partsFor >> cores, so
      // the floor never binds and file sizing is unchanged. Note the
      // floor limits how far coalesce MERGES — an input that already
      // arrives with fewer partitions than cores keeps its own
      // parallelism (coalesce cannot expand; forcing a repartition here
      // would add an unmeasured full-payload exchange). Without a cache
      // (persistRouted = false) nothing is coalesced: the merge would also
      // shrink the parallelism of each sink's recompute.
      val writeParallelism = spark.sparkContext.defaultParallelism
      def partsFor(n: Long): Int =
        if (cfg.persistRouted && cfg.targetRowsPerFile > 0)
          math.max(1L, (n + cfg.targetRowsPerFile - 1) / cfg.targetRowsPerFile).toInt
        else 0
      def sizedBy(df: DataFrame, n: Long): DataFrame = {
        val p = partsFor(n)
        // the floor itself is row-bounded (≥1k rows per write task) so a
        // near-empty set (quarantine) still collapses to one file
        val floor = math.min(writeParallelism.toLong,
          math.max(1L, (n + 999) / 1000)).toInt
        if (p > 0) df.coalesce(math.max(p, floor)) else df
      }
      def sized(df: DataFrame) = sizedBy(df, batch.stats.rowsRouted)
      // quarantine sized from ITS OWN count (usually ≈0; sizing it from the
      // routed count writes near-empty files when rules are lax and
      // oversized ones when they are strict)
      val quarantineSized = sizedBy(batch.quarantine, batch.stats.rowsQuarantined)

      // Fan out the sink writes as CONCURRENT jobs — the reference's
      // interfaces all consume the same batch in parallel
      // (src/collector.rs:215-226); Spark's scheduler interleaves the jobs
      // over the shared cache, overlapping I/O and compute.
      val salted = Route.saltedForWrite(routed, cfg.saltBuckets)
      val recordSinks: Seq[() => Unit] = cfg.output match {
        case None => Seq( // engine default: all sink shapes
          () => Sinks.write(Sinks.fileCsvShape(salted), s"$outDir/file_csv", Seq("content_type")),
          () => Sinks.write(Sinks.graylogShape(sized(routed)), s"$outDir/graylog"),
          () => Sinks.write(Sinks.fluentdShape(sized(routed), cfg.tenant), s"$outDir/fluentd"),
          () => Sinks.write(Sinks.logAnalyticsShape(sized(routed)), s"$outDir/log_analytics", Seq("log_type")))
        case Some(out) => // reference semantics: only enabled interfaces
          out.file.filter(_.enabled).map { f => () =>
            if (f.separateByContentType)
              { CsvSink.writeSeparated(routed, s"$outDir/${f.path}", f.separator); () }
            else CsvSink.writeUnified(salted, s"$outDir/${f.path}", f.separator)
          }.toSeq ++
          out.graylog.filter(_.enabled).map(_ => () =>
            Sinks.write(Sinks.graylogShape(sized(routed)), s"$outDir/graylog")) ++
          out.fluentd.filter(_.enabled).map(f => () =>
            Sinks.write(Sinks.fluentdShape(sized(routed), f.tenantName), s"$outDir/fluentd")) ++
          out.azureLogAnalytics.filter(_.enabled).map(_ => () =>
            Sinks.write(Sinks.logAnalyticsShape(sized(routed)), s"$outDir/log_analytics", Seq("log_type")))
      }
      // operational outputs: the aggregates are a handful of rows — one
      // file each, not one per shuffle partition
      settle(recordSinks ++ Seq(
        () => Sinks.write(Sinks.prtgShape(routed).coalesce(1), s"$outDir/prtg"),
        () => Sinks.write(Sinks.routedChecksum(routed).coalesce(1), s"$outDir/checksums"),
        () => Sinks.write(quarantineSized, s"$outDir/quarantine"),
        () => Sinks.write(batch.metrics.coalesce(1), s"$outDir/metrics")))

      // State commit strictly AFTER all sink writes (resume contract): a
      // failed sink leaves the state untouched, so a re-run re-emits the
      // batch. The ids come from the cached set — every fresh id once,
      // filter-dropped ones included — and their count is already known.
      backend.commit(spark, batch.ids, "doc_id",
        cfg.expirationEpochSec, cfg.nowEpochSec, knownRows = batch.rowsFresh)
      Result(batch.stats, backend.currentVersion)
    } finally batch.release()
  }

  /** Runs `writes` concurrently and waits until EVERY one has finished,
    * failed or not, before rethrowing the first failure (later ones are
    * attached as suppressed). Returning at the first failure would let the
    * caller release the cache — and return — while sibling sink jobs still
    * read it and write under the output directory. */
  private def settle(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val outcomes = Await.result(Future.sequence(writes.map(w => Future(Try(w())))), Duration.Inf)
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
  }
}
