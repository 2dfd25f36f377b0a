package graft.storage

/** Data-driven major-compaction trigger for the tiered persisted
  * indexes (dedup LSH, IVF, BM25 postings): majors fold the inc tier
  * into the base — O(corpus) — so they belong in lulls, but "run it
  * during lulls" needs a number, not a feeling. This compares the two
  * tiers from FILESYSTEM LISTINGS ONLY (file counts + `du` bytes — no
  * data read, no Spark job), so it is cheap enough to poll from an
  * operator loop or between ingest waves.
  *
  * The decision is RATIO-shaped, deliberately: an absolute inc-bytes
  * trigger would demand a 100 TB base rewrite over a 64 MB inc tier
  * (pointless) or never fire on a small index (wrong the other way).
  * A major pays O(base + inc) to reset the minor folds' O(inc) cadence
  * work and re-enforce at-rest invariants (global bucket cap,
  * one-file-per-cell, footer-stat clustering) — worth it once the inc
  * tier is a real fraction of the base, with a small absolute floor so
  * bootstrap-sized indexes don't thrash. */
case class MaintenanceAdvice(baseFiles: Int, baseBytes: Long,
    incFiles: Int, incBytes: Long) {

  /** Should a MAJOR compact run now? True once the inc tier holds at
    * least `minIncBytes` AND exceeds `maxIncFraction` of the base
    * (an empty base counts as fraction-exceeded: everything lives in
    * the inc tier, the streaming-bootstrap shape). Defaults: 1/4 of
    * the base, 32 MB floor. */
  def needsMajor(maxIncFraction: Double = 0.25,
      minIncBytes: Long = 32L << 20): Boolean =
    incBytes >= minIncBytes &&
      (baseBytes == 0L || incBytes.toDouble / baseBytes > maxIncFraction)

  override def toString: String =
    s"MaintenanceAdvice(base: $baseFiles files/$baseBytes B, " +
      s"inc: $incFiles files/$incBytes B, " +
      // labeled "at defaults": callers often decide with their own
      // thresholds (a small index wants a far lower floor than 32 MB),
      // and an operator reading a log line must not mistake this
      // rendering of the DEFAULT-threshold answer for the decision taken
      s"needsMajorAtDefaults=${needsMajor()})"
}

object MaintenanceAdvice {
  /** Tier stats from listings: parquet-file counts + recursive bytes
    * over each tier's root dirs (missing roots = empty tier). */
  def of(fs: VFS, baseRoots: Seq[String], incRoots: Seq[String]): MaintenanceAdvice = {
    def files(roots: Seq[String]): Int = roots.filter(fs.exists)
      .map(r => fs.lsFilesRecursive(r).count(_.endsWith(".parquet"))).sum
    def bytes(roots: Seq[String]): Long =
      roots.filter(fs.exists).map(fs.du).sum
    MaintenanceAdvice(files(baseRoots), bytes(baseRoots),
      files(incRoots), bytes(incRoots))
  }
}
