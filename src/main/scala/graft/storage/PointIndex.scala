package graft.storage

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Executor-resident POINT-LOOKUP serving structures for the immutable
  * base generations of the persisted dedup index — the piece the scan
  * model cannot provide.
  *
  * Why this exists (the r17/r18 measured dead end): a steady-state
  * dedup-index probe is a batch of point lookups on UNIFORM hash keys
  * (LSH buckets; candidate doc ids). Every interval-family pushdown
  * vehicle saturates on uniform keys — the r18 matrix measured 512
  * span-minimal BETWEEN ranges still covering 90.42%/95.01% of tier
  * rows at 24k/51k probe keys — so under the scan model every probe
  * pays one full pass of the narrow tier, a cost that tracks CORPUS
  * size, not batch size. Caching the tier in block-manager memory
  * changes the constant but not the shape (BASELINE.md, round 18).
  *
  * What changes the shape: hash each base tier ONCE per generation
  * into per-partition hash maps and serve probes as O(batch) lookups.
  *
  *  - build: one pass of the base tier, hash-partitioned on the key
  *    (`HashPartitioner(S)`), each partition folded into ONE
  *    `HashMap[key → packed matches]`, persisted `MEMORY_AND_DISK`.
  *    Registered per RESOLVED GENERATION PATH — a maintenance flip
  *    changes the path, so the next probe unpersists the stale RDD and
  *    builds against the new generation;
  *  - probe: the batch's keys are shuffled with the SAME partitioner
  *    (one batch-scale shuffle, no driver collect, no literal plans)
  *    and zipped partition-wise against the map RDD — each task
  *    performs pure hash lookups for its key slice. Cost is O(batch
  *    keys), independent of tier size: the property the scan model
  *    provably cannot reach on uniform keys.
  *
  * At cluster scale this is the idiomatic Spark serving shape: the map
  * partitions live in aggregate executor memory (the dedup bucket tier
  * is ~0.5% of corpus bytes, the sig tier ~512 B/doc; the
  * [[LongArenaMap]] shards are ~3× raw tier bytes in flat primitive
  * arrays — measured 44 B/row at 512M rows — with O(1) heap objects
  * per shard), `zipPartitions` tasks inherit locality preferences from
  * the persisted partitions, and `MEMORY_AND_DISK` makes eviction a
  * spill, never an OOM and never a wrong answer. Shard count scales
  * with tier bytes (~[[targetShardBytes]] per shard), so one shard is
  * always task-sized no matter the corpus.
  *
  * Two served shapes, both from the dedup index's v2 layout:
  *  - [[bucketRows]]: (band, bucket, id) rows keyed by bucket — the
  *    candidate stage's exact (band, bucket) matches;
  *  - [[sigRows]]: (id, sig) rows keyed by id — the candidate ids'
  *    signature fetch (previously a broadcast semi-join that scanned
  *    the WHOLE sigs tier per probe: a semi join carries no file
  *    pruning, so its cost also tracked the corpus).
  *
  * Scope guard: the tier's schema alone decides. Only LONG keys are
  * served (the standard layout); any other schema returns None and the
  * caller keeps its scan path.
  */
object PointIndex {

  /** bucket → (band, id) pair records; id → length-prefixed signature
    * rows (>1 row only for changed-text re-appends, which keep
    * surfacing per the unique-id contract). Both are [[LongArenaMap]]s
    * — flat primitive arrays, ~3× raw tier bytes, O(1) heap objects
    * per shard (the r19 `java.util.HashMap` shape was ~5× with one
    * node+box+array per tier row — GC-hostile at tier scale and the
    * fold transient OOM'd real heaps). */
  private type BucketMap = LongArenaMap
  private type SigMap = LongArenaMap

  /** Null-id rows of a malformed tier are kept through the lookup (the
    * scan path keeps them too — they count toward the over-cap groups
    * and die later at the pair stage's null-safe filter), encoded with
    * this sentinel inside the packed arrays. The one conflation: a REAL
    * id of Long.MinValue would surface as null — outside the layout's
    * id domain (doc ids are non-negative or xxhash64 values; a build
    * never writes MinValue) and strictly a malformed-input corner. */
  private val NullIdSentinel = Long.MinValue

  private case class Entry(path: String, rdd: RDD[_ <: AnyRef], parts: Int,
      session: SparkSession, seq: Long)

  private val MaxEntries = 32
  private val targetShardBytes = 64L << 20
  /** Probes with ≤ this many DISTINCT keys ride the broadcast lookup
    * (one map-side stage, no shuffle); above it — a giant backfill
    * batch — keys shuffle with the shard partitioner instead. Mode
    * selection collects distinct keys with `limit(cap+1)` (the same
    * distinct+limit+collect discipline the scan path's isin switch
    * used) as PRIMITIVE arrays (typed encoders, never boxed Rows), so
    * the driver transient is bounded at ~16 MB packed at ANY batch
    * size. */
  private val BroadcastKeyCap = 1 << 20

  /** Test/ops override of [[BroadcastKeyCap]]
    * (`graft.index.pointBroadcastCap`) — the forced-shuffle-mode
    * parity spec sets it tiny; defensive parse like every graft conf. */
  private def broadcastCap(spark: SparkSession): Int =
    spark.conf.getOption("graft.index.pointBroadcastCap")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(BroadcastKeyCap)

  /** Bumped by [[invalidate]]/[[clear]]; [[serve]] re-checks it at
    * registration so a build() that invalidates DURING an in-flight
    * probe's tier read can never be overwritten by that probe's
    * now-stale map (in-place rebuilds land at the IDENTICAL legacy
    * path, so path comparison alone cannot catch this). */
  private var invalidationEpoch = 0L

  /** Monotonic resolution stamp handed to each build when it reads the
    * epoch: at registration a build only REPLACES an entry whose stamp
    * is older — a probe that resolved the pre-flip generation path and
    * finished building after a newer registration must not reinstall
    * the older generation (it would thrash full tier-pass builds around
    * every major flip). The late build still serves ITS probe — the
    * generation that probe resolved — via an unregistered entry. */
  private var registrationSeq = 0L

  /** Tracks the per-probe broadcasts a probe creates so the caller can
    * DESTROY them the moment the probe's result is materialized —
    * a long-lived streaming loop must not accumulate up-to-16 MB
    * broadcast blocks between ContextCleaner GC cycles. Callers that
    * keep the probe plan lazy (spec seams) pass no lease and lean on
    * the ContextCleaner, which remains correct, just slower to
    * reclaim. Creation/destruction are counted
    * (`pointindex.bcast_created` / `pointindex.bcast_destroyed`) so a
    * probe-loop rehearsal can assert flatness. */
  final class Lease private[PointIndex] (spark: SparkSession) {
    private val bs =
      new java.util.concurrent.ConcurrentLinkedQueue[Broadcast[_]]()
    private[PointIndex] def track(b: Broadcast[_]): Unit = {
      bs.add(b)
      graft.core.Stats.counter(spark, "pointindex.bcast_created").add(1L)
    }
    /** Destroy every tracked broadcast. Call ONLY after every plan
      * that references them has materialized (checkpoint/collect):
      * a destroyed broadcast fails any later job that still needs it. */
    def release(): Unit = {
      var b = bs.poll()
      while (b != null) {
        try {
          b.destroy()
          graft.core.Stats.counter(spark, "pointindex.bcast_destroyed").add(1L)
        } catch { case _: Throwable => () } // already destroyed / ctx down
        b = bs.poll()
      }
    }
  }

  def lease(spark: SparkSession): Lease = new Lease(spark)

  /** (session, slot) → served generation, LRU-bounded. The key holds
    * the SparkSession ITSELF (reference equality), never an identity
    * hash: two live sessions can collide on a hash, and a collision
    * would hand one session's maps to the other. */
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, String), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Entry]): Boolean =
        size() > MaxEntries && {
          try e.getValue.rdd.unpersist(blocking = false)
          catch { case _: Throwable => () }
          true
        }
    }

  // ---- bucket tier ---------------------------------------------------

  /** Schema of a servable bucket tier, and of the rows served from it. */
  private[graft] val bucketSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = true),
    StructField("bucket", LongType, nullable = true),
    StructField("id", LongType, nullable = true)))

  /** Partition index of `key` under the build's
    * `HashPartitioner(parts)` — boxed `Long.hashCode`, pmod. Probe-side
    * routing MUST compute the identical function (parity is pinned by
    * the forced-shuffle-mode spec). A Tungsten-shuffle build variant
    * (DataFrame repartition + InternalRow decode, murmur3 routing) was
    * measured ~30% SLOWER end-to-end at the 7.1 GB tier (203–222 s vs
    * 158 s) — the tuple shuffle is not this build's bottleneck — so
    * the simple RDD path stays. */
  private def shardOf(key: Long, parts: Int): Int = {
    val m = key.hashCode % parts
    if (m < 0) m + parts else m
  }

  /** (bucket → (band, id)) rows of a servable bucket tier, or None.
    * Null handling mirrors the scan path's EFFECTIVE filter exactly:
    * null-bucket rows drop (an isin/semi-join on bucket never matches
    * null); null-band rows drop (provably invisible downstream on both
    * paths — a (null, bucket) group never joins the batch counts and
    * never joins the pair stage); null-ID rows are KEPT (they count
    * toward the probe's over-cap groups on the scan path) via
    * [[NullIdSentinel]]. */
  private def bucketKeyed(tier: DataFrame): Option[RDD[(Long, (Int, Long))]] = {
    val f = tier.schema.fields
    val servable = f.length == 3 &&
      f(0).name == "band" && f(0).dataType == IntegerType &&
      f(1).name == "bucket" && f(1).dataType == LongType &&
      f(2).name == "id" && f(2).dataType == LongType
    if (!servable) None
    else Some(tier.select("bucket", "band", "id").na.drop(Seq("bucket", "band"))
      .rdd.map(r => (r.getLong(0),
        (r.getInt(1), if (r.isNullAt(2)) NullIdSentinel else r.getLong(2)))))
  }

  private def bucketFold(it: Iterator[(Long, (Int, Long))]): AnyRef = {
    val b = new LongArenaMap.Builder
    it.foreach { case (bucket, (band, id)) => b.add2(bucket, band.toLong, id) }
    b.result()
  }

  /** Exact (band, bucket) matches of `keys` against the base bucket
    * tier at `path`, as rows with the tier's (band, bucket, id) schema
    * — a drop-in replacement for the scan path's filtered tier frame,
    * computed by hash lookup instead of a tier pass.
    *
    * Two lookup modes, picked by probe size:
    *  - ≤ [[BroadcastKeyCap]] distinct keys (every steady-state batch):
    *    the keys are collected (bounded — the scan path collected up
    *    to maxProbeKeys the same way), packed primitive, broadcast,
    *    and looked up in ONE map-side stage over the cached shards —
    *    no shuffle, no extra stage, locality from the persisted
    *    partitions;
    *  - above the cap (giant backfill batches): the keys shuffle with
    *    the shard partitioner (batch-scale) and zip partition-wise —
    *    no driver collect at any batch size.
    *
    * `keys` must carry (bucket long, band int) columns. None — caller
    * falls back to the scan — when the tier's schema is not the served
    * (int, long, long) shape. Pass a [[Lease]] to
    * reclaim the probe's broadcast eagerly once the result is
    * materialized (no lease → ContextCleaner GC reclaims it). */
  def bucketRows(spark: SparkSession, slot: String, path: String,
      keys: DataFrame, lease: Option[Lease] = None): Option[DataFrame] = {
    serve(spark, slot, path)(bucketKeyed)(bucketFold).map { e =>
      val maps = e.rdd.asInstanceOf[RDD[BucketMap]]
      val kr = keys.select(col("bucket"), col("band")).na.drop()
      // distinct BEFORE the limit+collect: bounds the driver transient
      // at ~cap DISTINCT rows for any batch size (raw rows are
      // docs × bands — unbounded). Typed primitive collect: a Row
      // collect at the cap would transiently hold ~10× the packed
      // bytes in boxed fields + Row overhead.
      val cap = broadcastCap(spark)
      val raw = kr.distinct().limit(cap + 1)
        .as[(Long, Int)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
        .collect()
      val out: RDD[Row] =
        if (raw.length > cap) {
          // shuffle mode: co-partition the keys with the shards;
          // duplicates dedup inside the lookup task
          val keyRdd = kr.rdd.map(r => (r.getLong(0), r.getInt(1)))
            .partitionBy(new org.apache.spark.HashPartitioner(e.parts))
          maps.zipPartitions(keyRdd) { (ms, ks) =>
            if (!ms.hasNext) Iterator.empty
            else {
              val m = ms.next()
              // exact pair-dedup (no packed-long tricks: a 64-bit
              // bucket XOR-mixed with a band CAN collide across
              // distinct pairs and silently drop a probe key)
              val seen = scala.collection.mutable.HashSet.empty[(Long, Int)]
              ks.flatMap { case (bucket, band) =>
                if (!seen.add((bucket, band))) Iterator.empty
                else bucketHits(m, bucket, band)
              }
            }
          }
        } else {
          // broadcast mode: pack the (already distinct) keys primitive
          // and probe every shard in one map-side stage
          val buf = new Array[Long](raw.length * 2)
          var w = 0
          raw.foreach { case (bucket, band) =>
            buf(w) = bucket; buf(w + 1) = band.toLong; w += 2
          }
          val packed = spark.sparkContext.broadcast(buf)
          lease.foreach(_.track(packed))
          val parts = e.parts
          maps.mapPartitionsWithIndex { (idx, ms) =>
            if (!ms.hasNext) Iterator.empty
            else {
              val m = ms.next()
              val arr = packed.value
              Iterator.range(0, arr.length, 2).flatMap { i =>
                val bucket = arr(i)
                if (shardOf(bucket, parts) != idx) Iterator.empty
                else bucketHits(m, bucket, arr(i + 1).toInt)
              }
            }
          }
        }
      spark.createDataFrame(out, bucketSchema)
    }
  }

  private def bucketHits(m: BucketMap, bucket: Long, band: Int): Iterator[Row] = {
    val start = m.payloadStart(bucket)
    if (start < 0) Iterator.empty
    else {
      val len = m.payloadLen(start)
      val b = new scala.collection.mutable.ArrayBuffer[Row](4)
      var i = start + 1
      val end = start + 1 + len
      while (i < end) { // (band, id) pair records
        if (m.payload(i) == band.toLong) {
          val id = m.payload(i + 1)
          b += Row(band, bucket, if (id == NullIdSentinel) null else id)
        }
        i += 2
      }
      b.iterator
    }
  }

  // ---- sig tier ------------------------------------------------------

  /** Schema of a servable sigs tier, and of the rows served from it. */
  private[graft] val sigSchema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = true)))

  /** (id → sig) rows of a servable sigs tier, or None. Null-id rows
    * drop (the scan path's semi-join on id never matches null); null
    * sigs are kept as null payloads (parity with the scanned frame). */
  private def sigKeyed(tier: DataFrame): Option[RDD[(Long, Array[Long])]] = {
    val f = tier.schema.fields
    val servable = f.length == 2 &&
      f(0).name == "id" && f(0).dataType == LongType &&
      f(1).name == "sig" &&
      f(1).dataType.isInstanceOf[ArrayType] &&
      f(1).dataType.asInstanceOf[ArrayType].elementType == LongType
    if (!servable) None
    else Some(tier.na.drop(Seq("id"))
      .rdd.map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null
          else {
            // element-wise null guard: a malformed containsNull=true
            // tier must not NPE the build task (the columnar scan path
            // reads a null element's slot as 0 — mirror that)
            val s = r.getAs[scala.collection.Seq[java.lang.Long]](1)
            val out = new Array[Long](s.length)
            var i = 0
            s.foreach { v => out(i) = if (v == null) 0L else v.longValue; i += 1 }
            out
          })
      })
  }

  private def sigFold(it: Iterator[(Long, Array[Long])]): AnyRef = {
    val b = new LongArenaMap.Builder
    it.foreach { case (id, sig) => b.addRow(id, sig) }
    b.result()
  }

  /** The (id, sig) rows of `ids` against the base sigs tier at `path`
    * — the candidate stage's signature fetch as hash lookups, same two
    * lookup modes as [[bucketRows]] (candidate sets are pair-scale, so
    * the broadcast mode is the one that ever runs in practice). `ids`
    * must carry an (id long) column. None → caller falls back to the
    * scan-with-semi-join path. */
  def sigRows(spark: SparkSession, slot: String, path: String,
      ids: DataFrame, lease: Option[Lease] = None): Option[DataFrame] = {
    serve(spark, slot, path)(sigKeyed)(sigFold).map { e =>
      val maps = e.rdd.asInstanceOf[RDD[SigMap]]
      val kr = ids.select(col("id")).na.drop()
      val cap = broadcastCap(spark)
      val raw = kr.distinct().limit(cap + 1)
        .as[Long](Encoders.scalaLong).collect()
      val out: RDD[Row] =
        if (raw.length > cap) {
          val keyRdd = kr.rdd.map(r => (r.getLong(0), ()))
            .partitionBy(new org.apache.spark.HashPartitioner(e.parts))
          maps.zipPartitions(keyRdd) { (ms, ks) =>
            if (!ms.hasNext) Iterator.empty
            else {
              val m = ms.next()
              val seen = scala.collection.mutable.HashSet.empty[Long]
              ks.flatMap { case (id, _) =>
                if (!seen.add(id)) Iterator.empty else sigHits(m, id)
              }
            }
          }
        } else {
          val packed = spark.sparkContext.broadcast(raw)
          lease.foreach(_.track(packed))
          val parts = e.parts
          maps.mapPartitionsWithIndex { (idx, ms) =>
            if (!ms.hasNext) Iterator.empty
            else {
              val m = ms.next()
              packed.value.iterator.flatMap { id =>
                if (shardOf(id, parts) != idx) Iterator.empty
                else sigHits(m, id)
              }
            }
          }
        }
      spark.createDataFrame(out, sigSchema)
    }
  }

  private def sigHits(m: SigMap, id: Long): Iterator[Row] = {
    val start = m.payloadStart(id)
    if (start < 0) Iterator.empty
    else new Iterator[Row] {
      private val end = start + 1 + m.payloadLen(start)
      private var i = start + 1
      def hasNext: Boolean = i < end
      def next(): Row = { // length-prefixed rows; -1 = null signature
        val l = m.payload(i).toInt
        if (l < 0) { i += 1; Row(id, null) }
        else {
          val arr = new Array[Long](l)
          var j = 0
          while (j < l) { arr(j) = m.payload(i + 1 + j); j += 1 }
          i += 1 + l
          Row(id, arr)
        }
      }
    }
  }

  // ---- warm-at-flip ---------------------------------------------------

  private lazy val warmer = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-pointindex-warmer")
      t.setDaemon(true)
      t
    })

  /** Testing/rehearsal seam: the most recent [[warmAsync]] submission
    * (await it for deterministic post-flip assertions). */
  @volatile private[graft] var lastWarm: java.util.concurrent.Future[_] = null

  /** Build + MATERIALIZE the generation maps for a bucket and a sigs
    * slot on a background daemon thread — called by maintenance right
    * after a major flip COMMITS (never on the abort path: the caller
    * resolves the paths after `commitGuarded` returns), so the first
    * post-flip probe finds warm maps instead of paying the full
    * tier-pass build (measured: 8.6 s first-touch vs ~2.7 steady at
    * the 100× matrix). One warmer thread, so stacked flips queue
    * rather than competing; failures are swallowed — warming is an
    * optimization, the probe path builds on demand regardless. */
  private[graft] def warmAsync(spark: SparkSession,
      bucket: (String, String), sigs: (String, String)): Unit = {
    lastWarm = warmer.submit(new Runnable {
      def run(): Unit = {
        try {
          serve(spark, bucket._1, bucket._2)(bucketKeyed)(bucketFold)
            .foreach(_.rdd.count())
          serve(spark, sigs._1, sigs._2)(sigKeyed)(sigFold)
            .foreach(_.rdd.count())
        } catch { case _: Throwable => () }
      }
    })
  }

  // ---- shared registry ----------------------------------------------

  /** The generation's map RDD, built once per (session, slot, path):
    * `toKeyed` projects the tier to a key-first frame + row decoder,
    * or None when the schema is unservable; `fold` turns one
    * co-partitioned slice into its hash map. The build shuffles the
    * keyed tuples with `HashPartitioner(parts)`, and probe routing
    * matches it via [[shardOf]]. None is NOT
    * cached — an unservable tier re-checks its schema per probe (one
    * footer read, fallback-path cost only). */
  private def serve[P: scala.reflect.ClassTag](
      spark: SparkSession, slot: String, path: String)
      (toKeyed: DataFrame => Option[RDD[(Long, P)]])
      (fold: Iterator[(Long, P)] => AnyRef): Option[Entry] = {
    val key = (spark, slot)
    // retried when an invalidation lands mid-build: an in-place
    // rebuild rewrites the IDENTICAL legacy path, so an in-flight
    // build over the pre-rebuild files must never register (path
    // comparison alone cannot catch it — hence the epoch)
    while (true) {
      val (hit, epoch0, seq0) = entries.synchronized {
        sweepStopped()
        val old = entries.get(key)
        if (old != null && old.path == path) {
          graft.core.Stats.counter(spark, "pointindex.hits").add(1L)
          (old, 0L, 0L)
        } else {
          registrationSeq += 1
          (null, invalidationEpoch, registrationSeq)
        }
      }
      if (hit != null) return Some(hit)
      // plan construction + listing OUTSIDE the lock (real I/O against
      // an object store): a cold miss on one index must not serialize
      // every other session's probes JVM-wide. The schema comes from
      // one data file's footer, read here: schema inference would
      // spend a Spark job on it. A tier with no data files is not
      // servable.
      val file = VFS(spark).lsFilesRecursive(path).find(_.endsWith(".parquet"))
      if (file.isEmpty) return None
      val tier = spark.read.schema(Shim.parquetFileSchema(spark, file.get)).parquet(path)
      val keyed = toKeyed(tier) match {
        case None => return None
        case Some(k) => k
      }
      val bytes = try VFS(spark).du(path) catch { case _: Throwable => 0L }
      val parts = math.max(spark.sparkContext.defaultParallelism,
        math.min(1 << 14, (bytes / targetShardBytes).toInt + 1))
      val rdd = keyed
        .partitionBy(new org.apache.spark.HashPartitioner(parts))
        .mapPartitions(it => Iterator.single(fold(it)),
          preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      rdd.setName(s"graft.pointindex:$slot")
      val registered = entries.synchronized {
        if (invalidationEpoch != epoch0) {
          // an invalidate raced our tier read — our files may predate
          // the rebuild; drop and re-resolve from scratch
          rdd.unpersist(blocking = false)
          None
        } else {
          val again = entries.get(key)
          if (again != null && again.path == path) {
            // another thread registered the same generation while we
            // listed: keep theirs, drop ours
            rdd.unpersist(blocking = false)
            graft.core.Stats.counter(spark, "pointindex.hits").add(1L)
            Some(again)
          } else if (again != null && again.seq > seq0) {
            // flip-adjacent ordering race: a probe that resolved the
            // NEW generation registered while we were still building
            // the one WE resolved pre-flip. Keep the newer map; serve
            // our in-flight probe from the local build, unregistered
            // and unpersisted (its job recomputes lineage-wise — one
            // uncached pass, correct for the generation it resolved).
            rdd.unpersist(blocking = false)
            graft.core.Stats.counter(spark, "pointindex.stale_skips").add(1L)
            Some(Entry(path, rdd, parts, spark, seq0))
          } else {
            graft.core.Stats.counter(spark,
              if (again == null) "pointindex.misses" else "pointindex.refreshes")
              .add(1L)
            if (again != null) again.rdd.unpersist(blocking = false)
            val e = Entry(path, rdd, parts, spark, seq0)
            entries.put(key, e)
            Some(e)
          }
        }
      }
      // None: the epoch moved — retry with a fresh listing
      if (registered.isDefined) return registered
    }
    sys.error("unreachable")
  }

  private def sweepStopped(): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val stopped =
        try e.getValue.session.sparkContext.isStopped
        catch { case _: Throwable => true }
      if (stopped) {
        try e.getValue.rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Unpersist and forget everything (tests; session teardown). */
  def clear(): Unit = entries.synchronized {
    invalidationEpoch += 1
    val it = entries.values().iterator()
    while (it.hasNext) {
      try it.next().rdd.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
    entries.clear()
  }

  /** Unpersist and forget one index's slots (every slot key starting
    * with `prefix`, e.g. `"<indexUri>#"`). */
  def invalidate(prefix: String): Unit = entries.synchronized {
    invalidationEpoch += 1
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._2.startsWith(prefix)) {
        try e.getValue.rdd.unpersist(blocking = false)
        catch { case _: Throwable => () }
        it.remove()
      }
    }
  }
}
