package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.storage.VFS

/** Persisted MinHash-LSH dedup index for INCREMENTAL near-duplicate
  * detection: build the banded index over the corpus ONCE, then probe
  * each arriving batch against it without touching the corpus again.
  *
  * At 100 TB, re-running LSH over corpus ∪ batch per ingest batch is
  * the difference between a pipeline and a science project: the corpus
  * pass alone dominates every batch. This index makes the steady-state
  * cost proportional to the BATCH, not the corpus:
  *
  *  - layout (v2, round 9): NARROW bucket rows `data/(band, bucket,
  *    id)` (~24 B/row) range-partitioned and sorted by (band, bucket)
  *    for footer-stat pruning, plus a separate signature table
  *    `sigs/(id, sig)` written once per doc. Signatures do NOT ride
  *    the bucket rows: a 64-lane sig is ~20× the row's key width, and
  *    once a large batch's probe buckets saturate the row-group
  *    [min,max] ranges (uniform hashes do, at a few thousand probe
  *    keys) the probe degrades to one map-side pass of the bucket
  *    table — which must therefore be as narrow as possible. Measured
  *    at the 100× rehearsal (500k docs): the v1 fat layout read ~4 GB
  *    of mostly-discarded sigs per saturated probe; v2 reads ~200 MB
  *    of keys plus candidate-scale sig lookups;
  *  - probe: the batch's bucket hashes are collected (bounded: bands ×
  *    batch rows, capped by `maxProbeKeys`) and pushed into the bucket
  *    scan as an `isin` filter — row groups prune when the probe set
  *    is small, and the fallback full pass is narrow. Candidate PAIRS
  *    are formed and deduped first (bucket-cap bounded); only then are
  *    the candidates' corpus sigs fetched by one broadcast-semi-join
  *    pass of `sigs/`. Batch side broadcast everywhere: the index
  *    never shuffles, never sorts, is never collected;
  *  - decision: signature-estimated Jaccard (`LaneMatches/numHashes`)
  *    against the fetched 64-lane signatures — no corpus text access.
  *    Pass `verifyWith` (id → text over the corpus) to add the exact
  *    hashed-shingle verification for est-borderline pairs, same
  *    two-stage shape as [[Dedup.minhashNearDups]];
  *  - maintenance: `append` adds new docs' banded rows as additional
  *    sorted files (cheap, batch-sized); bucket-range overlap between
  *    appended files and the base degrades pruning slowly — `build`
  *    again to re-cluster (the analogue of consolidation).
  *
  * Banding math is identical to the batch path
  * ([[Dedup.lshCandidates]]), so index probes find exactly the pairs
  * the one-shot run would. Reference semantics anchor: near-dup LSH
  * banding as in the batch dedup surface; the persisted form is our
  * scale extension (no reference counterpart).
  */
object DedupIndex {

  /** Index parameters, persisted as `_params.json` and re-checked on
    * probe so an index built with one (k, numHashes, bands) is never
    * silently probed with another. `maxBucket` mirrors
    * [[Dedup.bucketedPairs]]: buckets larger than it are dropped AT
    * BUILD TIME, so a degenerate bucket (a million boilerplate
    * near-copies that exact dedup should have removed first) can never
    * make a probe quadratic — and probe results match what the
    * one-shot batch path would emit under the same cap. */
  case class Params(k: Int, numHashes: Int, bands: Int, maxBucket: Int)

  private def paramsPath(uri: String) = s"$uri/_params.json"
  private def dataPath(uri: String) = s"$uri/data"
  private def sigsPath(uri: String) = s"$uri/sigs"

  /** The two tiered tables ([[graft.storage.TieredTable]]): the narrow
    * bucket rows `data` and the signature rows `sigs`, each a base plus
    * an INC tier (`data_inc`/`sigs_inc`). [[append]] writes the inc
    * tiers only, which is what makes streaming maintenance BOUNDED:
    * [[minorCompact]] folds only the inc tiers — O(appends since the
    * last major), never a rewrite of the base corpus — while [[compact]]
    * (major) folds base ∪ inc into new base generations and resets the
    * inc tiers. Generation flips keep probes concurrent with (or
    * crashed) maintenance on complete directories. */
  private def dataTable(uri: String) = graft.storage.TieredTable(uri, "data")
  private def sigsTable(uri: String) = graft.storage.TieredTable(uri, "sigs")

  private[graft] def liveDataPath(spark: SparkSession, uri: String): String =
    dataTable(uri).basePath(VFS(spark))
  private[graft] def liveDataIncPath(spark: SparkSession, uri: String): String =
    dataTable(uri).incPath(VFS(spark))
  private[graft] def liveSigsIncPath(spark: SparkSession, uri: String): String =
    sigsTable(uri).incPath(VFS(spark))

  /** [[graft.storage.PointIndex]] key of a table's base generation. */
  private def slot(t: graft.storage.TieredTable) = s"${t.uri}#${t.name}"

  /** base ∪ inc rows as one parquet scan over both tiers' paths.
    * Probes of a servable tier read its base through
    * [[graft.storage.PointIndex]] instead; this scan serves every other
    * tier and the maintenance reads. Tiers resolve inc first
    * ([[graft.storage.TieredTable.resolve]]), with `point` between. */
  private def readTiered(spark: SparkSession, t: graft.storage.TieredTable,
      point: String = ""): DataFrame = {
    val fs = VFS(spark)
    val (inc, basePath) = t.resolve(fs, point)
    // a missing dir drops out: a crash state with no committed base
    // generation degrades to the inc tier. Some path always carries
    // schema-bearing files (build writes both tables even over an
    // empty corpus), so no empty fallback here
    spark.read.parquet(Seq(inc, basePath).filter(fs.exists): _*)
  }

  /** base ∪ inc bucket rows — every reader's view of the index. A full
    * maintenance flip can be forced between the tier resolutions
    * (FlipRaceSpec pins the duplicates-not-vanishing contract). */
  private[graft] def readDataAll(spark: SparkSession, uri: String): DataFrame =
    readTiered(spark, dataTable(uri), "dedup.read.betweenResolves")

  /** base ∪ inc signature rows. */
  private[graft] def readSigsAll(spark: SparkSession, uri: String): DataFrame =
    readTiered(spark, sigsTable(uri))

  private def writeParams(spark: SparkSession, uri: String, p: Params): Unit = {
    import graft.core.Json._
    graft.storage.Encryption.dirJsonWrite(spark, uri, paramsPath(uri),
      render(JObj(Seq(
        "k" -> JLong(p.k), "numHashes" -> JLong(p.numHashes),
        "bands" -> JLong(p.bands), "maxBucket" -> JLong(p.maxBucket),
        "layout" -> JLong(2)))))
  }

  def readParams(spark: SparkSession, uri: String): Params = {
    import graft.core.Json._
    val o = parse(graft.storage.Encryption.dirJsonRead(spark, uri, paramsPath(uri))).obj
    def i(k: String) = o(k).getOrElse(sys.error(s"index params missing $k")).long.toInt
    require(o("layout").exists(_.long == 2L),
      s"dedup index at $uri predates the v2 split-signature layout — " +
        "rebuild it with DedupIndex.build")
    Params(i("k"), i("numHashes"), i("bands"), i("maxBucket"))
  }

  private def normHashes(c: Column, k: Int) = graft.functions.ShingleHashes(
    lower(regexp_replace(trim(c), TextAnalysis.WsClass + "+", " ")), k)

  /** (id, sig) rows — one per doc. */
  private def sigRows(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    df.select(col(idCol).as("id"),
      Dedup.minhashSignatureFromHashes(
        normHashes(col(textCol), p.k), p.numHashes).as("sig"))

  /** (id, sig, band, bucket) rows from (id, sig) rows — the banding is
    * bit-identical to [[Dedup.lshCandidates]] (band-seeded xxhash64 of
    * the signature slice). */
  private def bandedFromSigs(sigs: DataFrame, p: Params): DataFrame = {
    val rowsPerBand = p.numHashes / p.bands
    sigs.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(p.bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  private def bandedRows(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame = bandedFromSigs(sigRows(df, idCol, textCol, p), p)

  /** Build (or rebuild) the index at `uri` from the corpus. One corpus
    * TEXT pass writes `sigs/`; banding then derives from the written
    * sigs (a narrow second pass — the text is never re-read).
    * `filesPerBand` sizes the bucket-table range partitioning: total
    * files ≈ bands × filesPerBand, each covering ~1/filesPerBand of
    * one band's bucket space. */
  def build(df: DataFrame, idCol: String, textCol: String, uri: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 64, filesPerBand: Int = 4,
      encryptionKey: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val p = Params(k, numHashes, bands, maxBucket)
    val fs = VFS(spark)
    fs.delete(uri)
    // an in-place rebuild lands at the SAME legacy generation paths
    // ($uri/data, $uri/sigs) — drop any point maps keyed to them or
    // probes would keep serving the pre-rebuild rows
    graft.storage.PointIndex.invalidate(s"$uri#")
    // signatures/buckets are derived from corpus text — an encrypted
    // corpus needs its dedup index encrypted too; appends/compacts
    // inherit the key from the dir marker
    encryptionKey.foreach(id => graft.storage.Encryption.markDir(spark, uri, id))
    sigRows(df, idCol, textCol, p).write.mode("overwrite")
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(sigsPath(uri))
    writeCapped(bandedFromSigs(spark.read.parquet(sigsPath(uri)), p),
      uri, p, filesPerBand, "overwrite", dataPath(uri))
    writeParams(spark, uri, p)
  }

  /** Drop over-cap (band, bucket) groups, then write the NARROW bucket
    * rows (band, bucket, id) range-partitioned and bucket-sorted. The
    * group-size pass aggregates 12-byte keys (partial map-side
    * combine), so the extra shuffle ships no more than the bucket rows
    * themselves. */
  private def writeCapped(banded: DataFrame, uri: String, p: Params,
      filesPerBand: Int, mode: String, target: String): Unit = {
    val sizes = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > p.maxBucket)
      .select("band", "bucket")
    banded.join(sizes, Seq("band", "bucket"), "left_anti")
      .select("band", "bucket", "id")
      .repartitionByRange(math.max(1, p.bands * filesPerBand),
        col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket")
      .write.mode(mode)
      .options(graft.storage.Encryption.dirWriteOptions(banded.sparkSession, uri))
      .parquet(target)
  }

  /** Incrementally add `df`'s docs to the index: batch-sized work, no
    * corpus re-read. New sig and bucket files land in the INC tier
    * (`sigs_inc`/`data_inc`) — one batch-sized file each; probes keep
    * pruning per-file, so steady-state probe cost grows with the inc
    * FILE COUNT over the probed ranges, not corpus size. Run
    * [[minorCompact]] to fold the inc files (bounded — never touches
    * the base), [[compact]] to fold everything. */
  def append(df: DataFrame, idCol: String, textCol: String, uri: String,
      filesPerBand: Int = 1): Unit = {
    val spark = df.sparkSession
    val p = readParams(spark, uri)
    // batch-scale: checkpoint the sigs once, write them, band from them
    val sigs = sigRows(df, idCol, textCol, p).localCheckpoint(true)
    // empty batch = nothing to index: skip BOTH writes. An idle stream
    // (all-duplicate batches) would otherwise drip zero-row parquet
    // files into the inc tiers, and every cadence fold would rewrite
    // and flip an empty generation for nothing — needless generation
    // churn the minor fold's zero-row guard below also defends against
    // (for files written before this skip existed)
    if (sigs.isEmpty) return
    sigs.write.mode("append")
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(liveSigsIncPath(spark, uri))
    // the cap is enforced within the appended batch only; groups that
    // exceed maxBucket across base+appends are re-capped at probe time
    // exactly (candidatePairs) and at rest on the next major compact
    writeCapped(bandedFromSigs(sigs, p), uri, p, filesPerBand, "append",
      liveDataIncPath(spark, uri))
  }

  /** Probe: near-duplicate matches of `batch` docs against the indexed
    * corpus. Returns (id, match_id, est [, jaccard]) — one row per
    * (batch doc, matched corpus doc) with estimate ≥ `threshold`
    * (exact-verified ≥ threshold when `verifyWith` is given).
    *
    * The tier schema picks the serving path. Long-id tiers (the
    * standard layout) serve their base by POINT LOOKUP
    * ([[graft.storage.PointIndex]]): the batch's distinct (band,
    * bucket) keys probe executor-resident per-generation hash maps,
    * O(batch keys) with ZERO base-tier bytes scanned, and the
    * candidates' signatures fetch the same way by id. Only the
    * fold-cadence-bounded INC tiers are scanned, filtered by
    * [[probeBuckets]]. Any other tier (e.g. string ids) takes the SCAN
    * path: [[probeBuckets]] filters one base ∪ inc tier scan, and the
    * sig fetch is a whole-tier broadcast semi-join. Either way: never
    * a corpus-text pass. */
  def probe(batch: DataFrame, idCol: String, textCol: String, uri: String,
      threshold: Double = 0.7, maxProbeKeys: Int = 1 << 15,
      verifyWith: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val p = readParams(spark, uri)
    val banded = bandedRows(batch, idCol, textCol, p).localCheckpoint(true)
    // candidate pairs materialize EAGERLY (pair-scale): they feed both
    // the sig fetch and the estimate join, and without the checkpoint
    // the broadcast subtree would re-run the bucket-table scan;
    // materialize=true makes the whole candidate stage ONE tier pass,
    // and the probed-rows cache is dropped the moment the pair set
    // lands in the checkpoint
    // per-probe broadcast lifecycle (r20): the point path's packed-key
    // broadcasts are leased and DESTROYED the moment the stage that
    // consumed them materializes — a streaming loop probing every
    // micro-batch must not accumulate up-to-16 MB broadcast blocks
    // between ContextCleaner GC cycles (same explicit discipline as
    // prunedHandle below).
    val leaseA = graft.storage.PointIndex.lease(spark)
    // finally-released: a failed checkpoint job must not leak the
    // tracked broadcasts until ContextCleaner GC (release is
    // idempotent and swallows already-destroyed)
    val candidates = try {
      val (cand0, prunedHandle) =
        candidatePairsImpl(banded, uri, p, maxProbeKeys, materialize = true,
          lease = Some(leaseA))
      val c = cand0.localCheckpoint(true)
      prunedHandle.foreach(_.unpersist(blocking = false))
      c
    } finally leaseA.release()
    // candidates' corpus signatures: point lookups on the base sigs
    // generation (the broadcast semi-join carries NO file pruning, so
    // the scan fallback reads the whole sigs tier per probe — the
    // second corpus-tracking term the point path removes); inc sigs
    // stay a fresh semi-joined scan. Either way the result is
    // candidate-scale, so forcing it broadcast is safe and keeps the
    // estimate join shuffle-free. Checkpointed EAGERLY (pair-scale):
    // it bounds the sig broadcast's lifetime to this probe call (the
    // lease destroys it here, not when the caller eventually consumes
    // the lazy result) and keeps a caller that runs two actions on the
    // returned frame from paying the sig fetch twice.
    val mids = candidates.select(col("__mid").as("id")).distinct()
    val leaseB = graft.storage.PointIndex.lease(spark)
    val corpusSigs = try {
      pointSigFetch(spark, uri, mids, Some(leaseB))
        .getOrElse(readSigsAll(spark, uri)
          .join(broadcast(mids), Seq("id"), "left_semi"))
        .select(col("id").as("__mid"), col("sig").as("__msig"))
        .localCheckpoint(true)
    } finally leaseB.release()
    // recomputed narrow (one row per doc by construction) rather than
    // deduped out of `banded` — a dropDuplicates would ship the sig
    // arrays through a shuffle for nothing
    val batchSigs = sigRows(batch, idCol, textCol, p)
      .select(col("id").as("__qid"), col("sig").as("__qsig"))
    val est = graft.functions.LaneMatches(col("__qsig"), col("__msig"))
      .cast("double") / p.numHashes.toDouble
    val estimates = candidates
      .join(broadcast(batchSigs), Seq("__qid"))
      .join(broadcast(corpusSigs), Seq("__mid"))
      .withColumn("est", round(est, 6))
      .select(col("__qid"), col("__mid"), col("est"))
    // final distinct is pair-scale and guards against duplicate
    // (id, sig) rows in sigs/ (an id re-appended with the same text
    // would otherwise emit its match pairs once per duplicate row;
    // ids re-appended with CHANGED text violate the unique-id
    // contract and surface as distinct est values)
    verifyWith match {
      case None =>
        estimates.filter(col("est") >= threshold)
          .select(col("__qid").as("id"), col("__mid").as("match_id"), col("est"))
          .distinct()
      case Some(corpus) =>
        // exact verify on hashed shingle sets: batch side recomputed
        // (narrow), corpus side joined against the pair-scale survivor
        // set. The corpus hash frame must never be BROADCAST whole —
        // its shingle projection is exactly the bogus-small-estimated
        // array frame the 100x rehearsal caught Catalyst broadcasting
        // in minhashNearDups — so ride the same honest-input-size gate:
        // below the threshold (bench scale) the r9 plan stands
        // unchanged (AQE broadcasts the pair-scale survivors, the
        // corpus frame is streamed, not shuffled); above it the corpus
        // side pins a shuffle-on-key merge join, the always-safe
        // 100 TB shape. No checkpoint, no double compute.
        val survivors = estimates.filter(col("est") >= threshold - 0.15)
        val qh = batch.select(col(idCol).as("__qid"),
          normHashes(col(textCol), p.k).as("__qh"))
        val corpusSide = Dedup.corpusJoinSide(corpus)
        // prune the corpus BEFORE shingle-hashing it: only candidate
        // mids can survive the join below, so the same broadcast
        // semi-join the sig fetch rides keeps the expensive
        // normHashes pass candidate-scale instead of corpus-scale
        // (profiled: the un-pruned pass was the bulk of probe cost —
        // a full corpus text scan + hashing for a pair-scale join)
        val mh = corpusSide(corpus
          .join(broadcast(mids.withColumnRenamed("id", idCol)),
            Seq(idCol), "left_semi")
          .select(col(idCol).as("__mid"),
            normHashes(col(textCol), p.k).as("__mh")))
        survivors.join(qh, "__qid").join(mh, "__mid")
          .withColumn("jaccard", Dedup.hashedJaccard(col("__qh"), col("__mh")))
          .filter(col("jaccard") >= threshold)
          .select(col("__qid").as("id"), col("__mid").as("match_id"),
            col("est"), round(col("jaccard"), 6).as("jaccard"))
          .distinct()
    }
  }

  /** Re-cluster the bucket table after many appends WITHOUT re-reading
    * any corpus text: the narrow (band, bucket, id) rows are re-range-
    * partitioned and re-sorted into `filesPerBand` files per band, and
    * the corpus∪appends bucket cap is re-enforced (append only caps
    * within its own batch). The SIGS table coalesces in the same pass
    * (~250k rows ≈ 130 MB per file, id-range-clustered): append leaves
    * one sig file per batch, and every probe's map-side semi-join
    * opens every sigs file — the per-batch latency growth the 10x
    * streaming rehearsal measured was mostly this file-count tax.
    * This is the cheap maintenance verb between appends and a full
    * [[build]] — one pass of the ~24 B/row key table plus one pass of
    * the sig rows, independent of text size. Maintenance is
    * single-writer, and since r16 the contract is CHECKED, not just
    * documented: each table's flip re-lists its live generation and
    * ABORTS loudly if files appeared during the compaction pass (a
    * concurrent append — its rows are not in the new generation and
    * would otherwise be silently dropped at retirement). Concurrent
    * PROBES remain safe throughout — generation flip. */
  def compact(spark: SparkSession, uri: String, filesPerBand: Int = 4): Unit = {
    val p = readParams(spark, uri)
    // zero sig rows == zero indexed docs (build and append write both
    // tables together): nothing to compact, and flipping EITHER table
    // to a generation written from an empty frame would rest on writer
    // internals for the next read's schema (the build-over-empty
    // streaming bootstrap keeps its schema-bearing original files)
    val nSigs = readSigsAll(spark, uri).count()
    if (nSigs == 0) return
    // distinct() FIRST: heals exact row duplicates from replayed
    // appends and from a crash between a base flip and its inc reset
    // (rows then live in both tiers until this fold). It must run
    // BEFORE writeCapped's over-cap sizes — duplicate rows would
    // inflate bucket counts and permanently drop genuinely under-cap
    // buckets. Changed-text re-appends are NOT collapsed — different
    // sigs stay distinct rows and keep surfacing through probe's est
    // values, per the unique-id contract.
    dataTable(uri).major(spark, "dedup.compact.afterDataFlip") { next =>
      writeCapped(readDataAll(spark, uri).distinct(), uri, p, filesPerBand,
        "overwrite", next)
    }
    sigsTable(uri).major(spark, "dedup.compact.afterSigsFlip") { next =>
      graft.storage.TieredTable.writeSorted(readSigsAll(spark, uri).distinct(),
        uri, Seq("id"), graft.storage.TieredTable.filesFor(nSigs), next)
    }
    // warm-at-flip (r20): build the NEW generations' point maps on the
    // background warmer so the first post-flip probe finds them hot
    // instead of paying the full tier-pass first-touch (measured 8.6 s
    // vs ~2.7 steady at the 100× matrix). Reached only on the COMMIT
    // path — every abort above throws before this line — and the paths
    // re-resolve AFTER the commits, so a crashed flip never warms a
    // stale generation.
    val fs = VFS(spark)
    val (data, sigs) = (dataTable(uri), sigsTable(uri))
    graft.storage.PointIndex.warmAsync(spark,
      slot(data) -> data.basePath(fs), slot(sigs) -> sigs.basePath(fs))
  }

  /** BOUNDED maintenance (r16): fold ONLY the inc tier — coalesce the
    * one-file-per-append sig/bucket files into few sorted files via the
    * inc tier's own generation flip
    * ([[graft.storage.TieredTable.minorFold]]). Cost is O(appends since
    * the last MAJOR compact); the base corpus is never read or
    * rewritten, which is what makes this safe to run inside a streaming
    * foreachBatch at any index size (the in-loop `compactEvery`
    * default). File-count growth — the measured probe tax — resets each
    * fold; bucket-range sorting within the folded files restores
    * row-group pruning over the inc tier. No cap re-enforcement (probe
    * applies the exact corpus ∪ batch cap itself); run [[compact]]
    * (major) during lulls to fold the accumulated inc tier into the
    * base and re-enforce the at-rest bucket cap globally. Reader-safe
    * (flip); single-writer vs appends (guarded — a mid-fold append
    * aborts the flip loudly). */
  def minorCompact(spark: SparkSession, uri: String,
      filesPerBand: Int = 1): Unit = {
    val p = readParams(spark, uri)
    dataTable(uri).minorFold(spark, Seq("band", "bucket"))(_ => p.bands * filesPerBand)
    sigsTable(uri).minorFold(spark, Seq("id"))(graft.storage.TieredTable.filesFor)
  }

  /** Tier stats + major-compact advisory: base = live data + sigs
    * generations, inc = their live inc-tier generations. Listings
    * only, no data read — cheap enough for an operator poll loop. */
  def maintenanceAdvice(spark: SparkSession,
      uri: String): graft.storage.MaintenanceAdvice =
    graft.storage.TieredTable.advice(VFS(spark), dataTable(uri), sigsTable(uri))

  /** The probe's base-tier rows served by POINT LOOKUP
    * ([[graft.storage.PointIndex]]) instead of a tier scan — the
    * steady-state serving shape: the base generation is hashed into
    * executor-resident maps ONCE per maintenance flip, and each probe
    * is O(batch keys) hash lookups, independent of tier size (the scan
    * model's cost tracked the tier — no pushdown vehicle prunes
    * uniformly-hashed probe keys; measured, BASELINE.md r18). The inc
    * leg stays a fresh probe-filtered scan: it changes per append and
    * is bounded by the minor-fold cadence. It is read with the served
    * tier's declared schema — the same index wrote both tiers — so it
    * starts no schema-inference job.
    *
    * Returns the exact (band, bucket) matches — a strict subset of the
    * scan path's bucket-only filtered frame that every downstream
    * consumer (over-cap counts joined on (band, bucket), pair join on
    * (band, bucket)) treats identically. None → caller falls back to
    * the scan path (non-(int,long,long) tier schema, or no committed
    * base generation).
    *
    * Same resolution order + race window as [[readDataAll]]: inc
    * FIRST, so a read racing a major's base-flip → inc-reset window
    * sees appended rows TWICE (healed by the pair distinct), never a
    * gap. */
  private def pointBucketRows(spark: SparkSession, uri: String,
      banded: DataFrame, maxProbeKeys: Int,
      lease: Option[graft.storage.PointIndex.Lease]): Option[DataFrame] = {
    val fs = VFS(spark)
    val t = dataTable(uri)
    val (inc, basePath) = t.resolve(fs, "dedup.read.betweenResolves")
    if (!fs.exists(basePath)) return None
    graft.storage.PointIndex.bucketRows(spark, slot(t), basePath, banded,
        lease)
      .map { baseRows =>
        t.incRows(spark, inc, Some(graft.storage.PointIndex.bucketSchema)).fold(baseRows)(
          probeBuckets(_, banded, maxProbeKeys).unionByName(baseRows))
      }
  }

  /** `rows` restricted to the batch's probe buckets. Up to
    * `maxProbeKeys` distinct buckets push as an isin literal (footer-stat
    * file/row-group pruning over the bucket-sorted files; a bigger
    * In-literal is a plan bomb long before 10⁶ literals); above it, a
    * broadcast left-semi join on bucket (no unbounded driver collect,
    * map-side drop, only footer pruning lost). */
  private def probeBuckets(rows: DataFrame, banded: DataFrame,
      maxProbeKeys: Int): DataFrame = {
    val probeKeys = banded.select("bucket").distinct()
      .limit(maxProbeKeys + 1).collect().map(_.getLong(0))
    if (probeKeys.length <= maxProbeKeys) rows.filter(col("bucket").isin(probeKeys: _*))
    else rows.join(broadcast(banded.select("bucket").distinct()),
      Seq("bucket"), "left_semi")
  }

  /** The probe's signature fetch as point lookups on the base sigs
    * generation ([[graft.storage.PointIndex.sigRows]]): id-keyed hash
    * lookups instead of the whole-tier semi-join scan. Inc sigs (one
    * file per append, bounded by the fold cadence) keep the semi-join,
    * over a scan with the served sigs schema declared.
    * Same inc-first resolution order as [[readSigsAll]]. None → scan
    * fallback. */
  private def pointSigFetch(spark: SparkSession, uri: String,
      mids: DataFrame,
      lease: Option[graft.storage.PointIndex.Lease]): Option[DataFrame] = {
    val fs = VFS(spark)
    val t = sigsTable(uri)
    val (inc, basePath) = t.resolve(fs)
    if (!fs.exists(basePath)) return None
    graft.storage.PointIndex.sigRows(spark, slot(t), basePath, mids, lease)
      .map { baseSigs =>
        t.incRows(spark, inc, Some(graft.storage.PointIndex.sigSchema)).fold(baseSigs)(
          _.join(broadcast(mids), Seq("id"), "left_semi").unionByName(baseSigs))
      }
  }

  /** The candidate-pair stage of [[probe]], un-checkpointed — the
    * bucket-table scan with its pushdown is visible in THIS plan
    * (probe checkpoints it eagerly, which truncates lineage). Also the
    * plan-assertion seam for specs. */
  private[graft] def candidatePairs(banded: DataFrame, uri: String, p: Params,
      maxProbeKeys: Int): DataFrame =
    // no lease: the seam's plan stays lazy, so its point broadcasts
    // must outlive this call — the ContextCleaner reclaims them
    candidatePairsImpl(banded, uri, p, maxProbeKeys, materialize = false,
      lease = None)._1

  /** [[candidatePairs]] plus the materialized probed-rows handle the
    * caller must unpersist once the pairs are consumed. */
  private def candidatePairsImpl(banded: DataFrame, uri: String, p: Params,
      maxProbeKeys: Int, materialize: Boolean,
      lease: Option[graft.storage.PointIndex.Lease]): (DataFrame, Option[DataFrame]) = {
    val spark = banded.sparkSession
    // scan fallback (non-long ids, or no committed base): the probe
    // buckets filter the one base ∪ inc tier scan
    val pruned0 = pointBucketRows(spark, uri, banded, maxProbeKeys, lease)
      .getOrElse(probeBuckets(readDataAll(spark, uri), banded, maxProbeKeys))
    // ONE tier pass per probe (r18): the probed-bucket rows feed BOTH
    // the over-cap group counts and the pair join — un-materialized,
    // each consumer re-scans the whole tier (the semi path's full
    // tier pass ran TWICE per streaming probe). The probed rows
    // are candidate-scale (each kept group is bucket-cap bounded,
    // over-cap residue bounded by appends since the last major).
    // persist(), not localCheckpoint: the CacheManager handle lets the
    // probe UNPERSIST it once the pair set materializes — a per-probe
    // checkpoint with no handle is exactly the accumulating-cached-RDD
    // shape the over-cap fix above removed. The plan-assertion seam
    // keeps the raw scan (materialize=false) so specs see the pushdown.
    val pruned = if (materialize)
      pruned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else pruned0
    // The probe-time cap replicates the one-shot path's bucket cap
    // over corpus ∪ batch EXACTLY: a (band, bucket) group whose index
    // rows + batch rows exceed maxBucket emits no pairs (bucketedPairs
    // drops it whole), even though build's corpus-only cap kept it.
    // Both count frames are probe-scale (pruned buckets only), so the
    // per-group sizes land in one tiny broadcast join.
    // RAW row counts, deliberately: a countDistinct here would ship
    // the pruned rows' (band, bucket, id) combos through the shuffle
    // where raw counts ship only per-group partials — a measurable tax
    // on every saturated probe to guard against duplicate index rows.
    // Duplicates instead heal at the tiers: replayed streaming appends
    // dedup at the next minor fold (≤ compactEvery batches of
    // exposure), and a crashed major's cross-tier residue heals on the
    // compact re-run its abort message demands. In those windows an
    // inflated count can transiently suppress an at-cap bucket's pairs
    // — the conservative direction (missed dups, never false pairs).
    val idxCounts = pruned.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__ni"))
    val batchCounts = banded.groupBy("band", "bucket").agg(count(lit(1)).as("__nb"))
    // COLLECT the over-cap group set (bounded: over-cap groups among
    // the PROBED buckets only — strictly fewer rows than the banded
    // batch frame this probe already broadcasts) so the suppression is
    // counted off the same single agg job that builds the set, and
    // nothing stays pinned in executor storage afterwards: the r17
    // localCheckpoint variant accumulated one never-unpersisted cached
    // RDD per probe across a streaming/prober loop's app lifetime. The
    // one-shot path counts its cap drops (dedup.lsh_buckets_dropped);
    // this is the probe-side analogue, so a saturated probe is never
    // silent.
    val overCapPlan = idxCounts.join(batchCounts, Seq("band", "bucket"))
      .filter(col("__ni") + col("__nb") > p.maxBucket)
      .select("band", "bucket")
    val overCapRows = overCapPlan.collect()
    if (overCapRows.nonEmpty) {
      graft.core.Stats.counter(spark, "dedup_index.probe_groups_suppressed")
        .add(overCapRows.length.toLong)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedup index probe: ${overCapRows.length} (band, bucket) group(s) " +
          s"over the ${p.maxBucket}-id cap emitted no pairs (corpus ∪ batch " +
          "density cap — exact parity with the one-shot path)")
    }
    // Candidate PAIRS on the narrow bucket rows — batch side broadcast,
    // no exchange below the join, the bucket table consumed map-side.
    // Pair-level dedup happens HERE (a pair surfaces once per shared
    // band), bounded by the bucket cap, so the sig fetch is
    // candidate-scale.
    val joined = pruned.join(
        broadcast(banded.select(col("id").as("__qid"),
          col("band").as("band"), col("bucket").as("bucket"))),
        Seq("band", "bucket"))
    val capped =
      if (overCapRows.isEmpty) joined // common case: no anti-join leg at all
      else joined.join(
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(overCapRows: _*), overCapPlan.schema)),
        Seq("band", "bucket"), "left_anti")
    (capped.filter(col("id") =!= col("__qid"))
      .select(col("__qid"), col("id").as("__mid"))
      .distinct(),
      if (materialize) Some(pruned) else None)
  }

  /** spec seam: the candidate-pair plan for a batch, un-checkpointed */
  private[graft] def candidatePairsFor(batch: DataFrame, idCol: String,
      textCol: String, uri: String, maxProbeKeys: Int = 1 << 15): DataFrame = {
    val p = readParams(batch.sparkSession, uri)
    candidatePairs(bandedRows(batch, idCol, textCol, p), uri, p, maxProbeKeys)
  }

  /** The batch minus docs near-duplicating the indexed corpus — the
    * steady-state ingest filter. Anti-join on the probe matches; batch
    * side work only. */
  def dropAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      uri: String, threshold: Double = 0.7): DataFrame = {
    val dups = probe(batch, idCol, textCol, uri, threshold)
      .select(col("id").as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }
}
