package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/**
 * Iceberg-shaped snapshot state store for the known-content dedup state
 * (reference: `known_blobs` line file, src/config.rs:58-119 load/save;
 * inserted at src/collector.rs:161, checked at src/api_connection.rs:341-343).
 *
 * The sandbox ships no Iceberg runtime, so snapshot semantics are provided
 * directly: each commit writes one immutable parquet DELTA directory
 * `snapshot-N/` (only the new ids — O(batch), not O(state), exactly like an
 * Iceberg fast-append manifest) and atomically swaps a `_CURRENT` pointer
 * file (write-temp + ATOMIC_MOVE — the pointer-swap Iceberg's
 * HadoopTableOperations does with `version-hint.text`). The live table is
 * the union of snapshots 0..N. `compact()` folds the deltas into one
 * snapshot when the chain grows long. On a production cluster this class is
 * the one seam to replace with `spark.read/writeTo("cat.db.known_content")`.
 *
 * Resume contract (north rule; SURVEY.md §7.3): state is committed strictly
 * AFTER the durable sink write of the same batch. A job killed between sink
 * write and state commit re-writes that batch on resume into overwritten
 * output paths (idempotent), never skips data, and the anti-join absorbs all
 * previously committed rows — resume-without-re-emission of *committed* rows.
 * (The reference is weaker: it saves state only at run end and records blobs
 * as known even when parsing failed, src/collector.rs:161-171.)
 */
class StateStore(val dir: String) {
  private val currentPtr = Paths.get(dir, "_CURRENT")

  /** Highest committed snapshot id, if any. */
  def currentSnapshot: Option[Int] =
    if (Files.exists(currentPtr))
      Some(new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toInt)
    else None

  // public: the snapshot-dir naming lives HERE only — callers (Pipeline's
  // stats read) must not re-derive it
  def snapshotPath(n: Int): String = s"$dir/snapshot-$n"

  /** Statically-empty relation (LocalRelation, not an RDD): Catalyst's
    * PropagateEmptyRelation then eliminates the dedup anti-join entirely on
    * a first run — an emptyRDD-backed relation has unknown stats and would
    * force a full shuffle join of the input against nothing. */
  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      Schemas.knownContent)

  /** All live delta paths as of the current snapshot. */
  private def livePaths: Seq[String] =
    currentSnapshot match {
      case Some(n) => (0 to n).map(snapshotPath).filter(p => Files.exists(Paths.get(p)))
      case None    => Nil
    }

  /**
   * Load live (non-expired) state: union of all committed deltas. Mirrors
   * the reference's load-time expiry filter (src/config.rs:92-106): entries
   * whose expiration <= now are dropped at load. Valid when callers never
   * re-commit an id (the pipeline's anti-join guarantees that); when ids
   * can re-arrive with updated expirations, read through `loadResolved`.
   */
  def load(spark: SparkSession, nowEpochSec: Long): DataFrame = {
    val paths = livePaths
    if (paths.isEmpty) emptyState(spark)
    else spark.read.parquet(paths: _*)
      .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
  }

  /**
   * Time-travel read (Iceberg `VERSION AS OF` analog): the state as of
   * snapshot `asOfSnapshot` — exactly the deltas 0..k, expiry-filtered at
   * `nowEpochSec`. Because deltas are immutable and the pointer only ever
   * advances, historic reads need no locks and see no torn state.
   */
  def loadAsOf(spark: SparkSession, nowEpochSec: Long, asOfSnapshot: Int): DataFrame = {
    // cap at the committed pointer: snapshot dirs beyond it are orphans
    // from crashed commits (written but never pointer-swapped) and must
    // stay invisible to every read path
    val cap = math.min(asOfSnapshot, currentSnapshot.getOrElse(-1))
    val paths = (0 to cap).map(snapshotPath)
      .filter(p => Files.exists(Paths.get(p)))
    if (paths.isEmpty) emptyState(spark)
    else spark.read.parquet(paths: _*)
      .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
  }

  /**
   * MERGE-resolved read: last-writer-wins per content_id (highest
   * snapshot_id), THEN the expiry filter — so a re-arrival that extended an
   * id's expiration keeps it alive, and an id whose LATEST version expired
   * is re-admitted even if an older unexpired version exists. This is the
   * reference's `known_blobs.insert(id, new_expiry)` overwrite
   * (src/config.rs:58-119) expressed as read-side resolution over
   * fast-append deltas — the same trick Iceberg's merge-on-read uses:
   * writes stay O(batch), the resolve window runs once per load, and
   * `compact()` folds the history away.
   */
  def loadResolved(spark: SparkSession, nowEpochSec: Long): DataFrame = {
    val paths = livePaths
    if (paths.isEmpty) emptyState(spark)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("content_id")
        .orderBy(col("snapshot_id").desc, col("committed_at").desc)
      spark.read.parquet(paths: _*)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .filter(col("expiration") > timestamp_seconds(lit(nowEpochSec)))
    }
  }

  /**
   * MERGE-shaped upsert: matched ids get their expiration replaced, new ids
   * are inserted — without rewriting any existing file. Physically this is
   * just `commit` (an O(batch) fast-append delta); the merge semantics live
   * in `loadResolved`'s last-writer-wins. Returns the new snapshot id.
   */
  def merge(spark: SparkSession, incoming: DataFrame, idCol: String,
            expirationEpochSec: Long, commitEpochSec: Long): Int =
    commit(spark, incoming, idCol, expirationEpochSec, commitEpochSec)

  /**
   * Dedup: anti-join incoming rows against known content ids
   * (SURVEY.md §2.3 J1 — the reference's `known_blobs.contains_key` probe
   * IS a broadcast hash anti-join). While state is small Catalyst/AQE picks
   * BroadcastHashJoin; at 10^12-scale state it degrades gracefully to a
   * shuffled hash/sort-merge anti-join on the id — no code change.
   */
  def dedup(incoming: DataFrame, known: DataFrame, idCol: String = "doc_id",
            withinBatch: Boolean = false,
            bloomPruneThreshold: Long = -1L,
            bloomFpp: Double = 0.01,
            knownSizeHint: Long = -1L): DataFrame =
    StateStore.dedup(incoming, known, idCol, withinBatch, bloomPruneThreshold,
      bloomFpp, knownSizeHint)

  // raw live row count, memoized per committed snapshot — see liveRowCount
  @volatile private var sizeCache: (Int, Long) = (-2, -1L)

  /**
   * Raw live state row count (no expiry filter — an upper bound on any
   * loaded view, which is the right direction for a bloom-threshold
   * decision). Memoized per committed snapshot and updated INCREMENTALLY:
   * after a commit only the new delta directories are counted (parquet
   * footer metadata), so repeated dedup calls across streaming
   * micro-batches never re-count the whole state (ADVICE r3).
   */
  def liveRowCount(spark: SparkSession): Long = {
    val snap = currentSnapshot.getOrElse(-1)
    val (cSnap, cN) = sizeCache
    if (cSnap == snap) cN
    else {
      val n =
        if (cSnap >= -1 && cSnap < snap &&
            Files.exists(Paths.get(snapshotPath(math.max(0, cSnap))))) {
          // cache predates `snap` and the old deltas still exist (i.e. no
          // compact() rewrote history): count only the new deltas
          val newPaths = (cSnap + 1 to snap).map(snapshotPath)
            .filter(p => Files.exists(Paths.get(p)))
          cN + (if (newPaths.isEmpty) 0L
                else spark.read.parquet(newPaths: _*).count())
        } else {
          val paths = livePaths
          if (paths.isEmpty) 0L else spark.read.parquet(paths: _*).count()
        }
      sizeCache = (snap, n)
      n
    }
  }

  /**
   * Commit: write `newlyRouted` ids as delta snapshot N+1, atomically swap
   * the pointer. Per-partition lineage is recorded on every row
   * (partition_id = the task that emitted it, committed_at = the commit
   * watermark) per the north rule's checkpoint/lineage requirement.
   * Crash before the pointer swap leaves an orphan directory that is never
   * referenced — commits are all-or-nothing.
   */
  def commit(spark: SparkSession, newlyRouted: DataFrame, idCol: String,
             expirationEpochSec: Long, commitEpochSec: Long): Int = {
    val next = currentSnapshot.getOrElse(-1) + 1
    newlyRouted
      .select(
        col(idCol).cast("string").as("content_id"),
        timestamp_seconds(lit(expirationEpochSec)).as("expiration"),
        timestamp_seconds(lit(commitEpochSec)).as("committed_at"),
        spark_partition_id().as("partition_id"),
        lit(next).as("snapshot_id"))
      .write.mode("overwrite").options(StateStore.DurableWrite).parquet(snapshotPath(next))
    swapPointer(next)
    next
  }

  /** Fold all deltas into a single snapshot (Iceberg `rewrite_data_files`
    * analog) — run periodically so `load` unions O(1) directories. Shadowed
    * versions (ids re-committed via `merge`) are dropped: only the
    * last-writer row survives, like an Iceberg rewrite after MERGE. */
  def compact(spark: SparkSession): Unit = currentSnapshot.foreach { n =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("content_id")
      .orderBy(col("snapshot_id").desc, col("committed_at").desc)
    val merged = spark.read.parquet(livePaths: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    merged.write.mode("overwrite").options(StateStore.DurableWrite).parquet(snapshotPath(n + 1))
    swapPointer(n + 1)
    (0 to n).foreach { i =>
      val p = Paths.get(snapshotPath(i))
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
  }

  private def swapPointer(next: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"_CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Backend-agnostic dedup: the anti-join + bloom pre-prune work against ANY
  * known-content DataFrame (snapshot store, catalog table, in-memory test
  * fixture), so the logic lives here and both the [[StateStore]] instance
  * method and [[StateBackend]]-driven pipelines delegate to it. */
object StateStore {

  /** Writer options of every state write: parquet page CRCs ON, whatever
    * the session says. The state outlives every run, and a silently
    * corrupt page would shrink dedup for all later runs — sink files may
    * trade the checksum for write speed (Sinks.write), the state never. */
  val DurableWrite: Map[String, String] = Map("parquet.page.write-checksum.enabled" -> "true")

  /**
   * Dedup: anti-join incoming rows against known content ids
   * (SURVEY.md §2.3 J1 — the reference's `known_blobs.contains_key` probe
   * IS a broadcast hash anti-join). While state is small Catalyst/AQE picks
   * BroadcastHashJoin; at 10^12-scale state it degrades gracefully to a
   * shuffled hash/sort-merge anti-join on the id — no code change.
   */
  def dedup(incoming: DataFrame, known: DataFrame, idCol: String = "doc_id",
            withinBatch: Boolean = false,
            bloomPruneThreshold: Long = -1L,
            bloomFpp: Double = 0.01,
            knownSizeHint: Long = -1L): DataFrame = {
    // withinBatch=true also collapses duplicate ids WITHIN the incoming
    // batch — the reference's sequential contains_key+insert drops repeats
    // inside a run too (src/collector.rs:161). Off by default: it costs an
    // exchange on the id, and the engine's own sources (listing scans,
    // file batches) carry unique ids. Turn it on for sources that can
    // repeat ids within one batch.
    val in = if (withinBatch) incoming.dropDuplicates(idCol) else incoming
    val knownIds0 = known.select(col("content_id").as(idCol)).distinct()
    // BLOOM PRE-PRUNE (opt-in) for large states: once the state outgrows a
    // broadcast, the anti-join becomes a sort-merge that shuffles the
    // ENTIRE corpus — yet at steady state most rows are fresh and never
    // match. A broadcast Bloom filter over the state ids lets definitely-
    // fresh rows (no false negatives by construction) skip the join
    // scan-side; only the maybe-known sliver (known fraction + fpp)
    // shuffles. False positives just take the join path, so results are
    // identical to the plain anti-join (StateStoreSpec pins equality).
    //
    // OFF by default (threshold -1) because it is a measured trade, not a
    // free win: the build costs one state scan + ~k hash inserts per id +
    // a filter-sized merge (12M-id state → 14 MB filter, ~2.0 s at
    // local[32] — 17% faster than Spark's own df.stat.bloomFilter), and on
    // a single box whose shuffles are memcpy-speed that build never pays
    // for itself (measured: plain 2.3-2.5 s vs bloom 5.1-7.2 s at 4M-16M
    // incoming × 12M state; BASELINE.md round-4 table). Enable it where an
    // exchange is genuinely expensive — network-bound clusters shuffling
    // hundreds of GB of incoming against a 10M..1B-id state — by setting
    // bloomPruneThreshold to the state size above which pruning wins there.
    // The threshold decision needs the state size: callers that already
    // know it (Pipeline / streaming pass liveRowCount, memoized per
    // snapshot) supply knownSizeHint so no per-call count job fires.
    val stateSize =
      if (bloomPruneThreshold < 0) -1L
      else if (knownSizeHint >= 0) knownSizeHint
      else known.count()
    // Builder and probe must hash in ONE shared domain, decided from BOTH
    // sides' id types: long domain only when both sides are integral,
    // string domain only when both sides are strings. For MIXED types
    // (e.g. the store's string content_id probed by long incoming ids —
    // join-time coercion handles that in the plain path) there is no
    // domain in which the bloom provably mirrors the join's equality
    // semantics, so the prune is skipped rather than risking a false
    // negative that silently passes a duplicate.
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val bloomDomain: Option[org.apache.spark.sql.types.DataType] =
      (in.schema(idCol).dataType, knownIds0.schema(idCol).dataType) match {
        case (StringType, StringType) => Some(StringType)
        case (LongType | IntegerType, LongType | IntegerType) => Some(LongType)
        case _ => None
      }
    if (bloomPruneThreshold >= 0 && stateSize > bloomPruneThreshold &&
        bloomDomain.isDefined) {
      // The Bloom is built from the RAW state ids — duplicate inserts are
      // harmless to a Bloom filter, so the build is a pure narrow scan +
      // treeAggregate: no distinct shuffle, no checkpoint materialization.
      // (A first cut distinct'd + localCheckpoint'd the ids for the build
      // and it dominated the whole path: ~8 s of the 9.9 s measured at a
      // 12M-row state.) The join below keeps the lazy distinct projection,
      // which it evaluates exactly once.
      val longDomain = bloomDomain.contains(LongType)
      val bloom = buildBloom(known.select(col("content_id").as(idCol)),
        idCol, stateSize, bloomFpp, longDomain)
      // Probe in the SAME domain the builder inserted: putLong /
      // mightContainLong when both sides are integral (int probes widen to
      // long in the expression), UTF-8 string bytes when both are strings.
      val might = graft.functions.GraftFunctions.bloom_might_contain(col(idCol), bloom)
      // NULL ids never match an anti-join key, so the plain path KEEPS
      // them; the bloom probe evaluates to NULL for a null id and both
      // filter(might) and filter(!might) would silently drop the row —
      // null ids are routed down the definitely-fresh branch explicitly.
      in.filter(might).join(knownIds0, Seq(idCol), "left_anti")
        .unionByName(in.filter(col(idCol).isNull || !might))
    } else {
      in.join(knownIds0, Seq(idCol), "left_anti")
    }
  }

  /** Distributed Bloom build over the state ids: per-partition filters
    * merged via treeAggregate. `longDomain` selects the hash domain the
    * PROBE will use (decided in dedup from both sides' types): putLong for
    * the integral domain, UTF-8 bytes for the string domain — matching
    * BloomMightContainExpr.mightContainLong / mightContainUtf8 exactly, so
    * builder and probe can never drift. Null state ids are skipped: a null
    * key never matches an anti-join probe anyway, and null incoming ids
    * bypass the bloom entirely (see dedup). */
  private def buildBloom(ids: DataFrame, idCol: String, expected: Long,
                         fpp: Double, longDomain: Boolean)
      : org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = ids.sparkSession
    import spark.implicits._
    // Cap build parallelism: every partition allocates (and later
    // serializes + merges) a full expected-size filter — at a 12M-row
    // state that is 14 MB PER PARTITION, and 32 partitions put ~450 MB
    // through the merge for a scan whose insert work is trivial. ~2M
    // inserts per task (see below) keeps the hashing parallel while the
    // merge traffic stays at a handful of filters. (The pre-prune regime
    // is mid-size states — 10M..1B ids, filter 14 MB..1.4 GB; beyond that
    // the filter itself is the bottleneck and partitioned join pruning,
    // not a single Bloom, is the right tool.)
    val parts = math.max(4, math.min(ids.queryExecution.toRdd.getNumPartitions,
      (expected / 2000000L).toInt + 1))
    val nonNull = ids.filter(col(idCol).isNotNull).coalesce(parts)
    val zero = BloomFilter.create(math.max(1L, expected), fpp)
    // insert from the INTERNAL rows (toRdd): the Dataset[String] path
    // decoded every id into a java.lang.String first — pure allocation, the
    // filter hashes raw UTF-8 bytes anyway (same bytes either way, so the
    // probe domain is unchanged). ~2M inserts per task: enough tasks to
    // parallelize the hashing, few enough that the per-partition
    // expected-size filters stay a handful through the merge.
    if (longDomain)
      nonNull.select(col(idCol).cast("long")).queryExecution.toRdd
        .treeAggregate(zero)(
          (f, r) => { f.putLong(r.getLong(0)); f },
          (a, b) => { a.mergeInPlace(b); a })
    else
      nonNull.select(col(idCol).cast("string")).queryExecution.toRdd
        .treeAggregate(zero)(
          (f, r) => { f.putBinary(r.getUTF8String(0).getBytes); f },
          (a, b) => { a.mergeInPlace(b); a })
  }
}
