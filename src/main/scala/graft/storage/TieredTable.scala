package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One table of a persisted index kept in two tiers under `uri`: the
  * base `<name>` and the inc tier `<name>_inc`, each its own
  * [[VersionedDir]] base. Appends land in the inc tier; a MINOR fold
  * rewrites only the inc tier (O(appends since the last major), never
  * the base), and a MAJOR folds base ∪ inc into a new base generation
  * and resets the inc tier — the index-side analogue of the array
  * engine's consolidate + vacuum. The dedup index (`data`, `sigs`) and
  * the IVF index (`cells`) share this one lifecycle; the BM25 postings
  * keep their own tag-dir design (idempotent per-tag replay with exact
  * per-batch stats sidecars).
  *
  * Every flip is reader-safe (generation flip) and single-writer vs
  * appends by contract, CHECKED: each flip is guarded by the live
  * listing taken before its read ([[VersionedDir.commitGuarded]]), so
  * an append racing a fold or a major aborts the flip loudly instead
  * of losing its rows. Inc generations keep `grace = 2` (they flip at
  * the fold cadence); base generations keep the default single grace
  * copy (a second corpus-sized copy is not noise).
  */
final case class TieredTable(uri: String, name: String) {

  private val incName = s"${name}_inc"

  /** Live base generation dir (generation 0 is the dir `build` wrote). */
  def basePath(fs: VFS): String = VersionedDir.resolve(fs, uri, name)

  /** Live inc generation dir — where appends write. */
  def incPath(fs: VFS): String = VersionedDir.resolve(fs, uri, incName)

  /** Live (inc, base) paths for a reader, INC resolved FIRST,
    * deliberately: a read racing a major's base-flip → inc-reset window
    * then pairs the OLD inc (grace copy, still on disk) with the NEW
    * base — appended rows appear TWICE (transient; healed by the next
    * fold's distinct, tolerated by the probes). Base-first resolution
    * would pair the OLD base with the NEW reset-empty inc — appended
    * rows transiently VANISH, which for a dedup probe means a real
    * duplicate slips through. Duplicates are the benign direction.
    * `point` names the [[FlipHooks]] race-injection point between the
    * two resolutions ("" = none). */
  def resolve(fs: VFS, point: String = ""): (String, String) = {
    val inc = incPath(fs)
    if (point.nonEmpty) FlipHooks.at(point)
    (inc, basePath(fs))
  }

  /** The inc tier's rows at the resolved path `inc`, or None when it
    * holds no data files. Data files, not bare existence: a
    * freshly-reset inc generation lists only its commit marker, and a
    * parquet scan of a data-file-less dir dies on schema inference.
    * A declared `schema` plans the scan without inferring one (Spark
    * infers it in a job of its own); None infers it from the files. */
  def incRows(spark: SparkSession, inc: String,
      schema: Option[StructType]): Option[DataFrame] =
    if (VersionedDir.hasDataFiles(VFS(spark).lsFilesRecursive(inc).toSet))
      Some(schema.fold(spark.read)(spark.read.schema).parquet(inc))
    else None

  /** BOUNDED maintenance: fold the inc tier alone into a new inc
    * generation of `files(rows)` files, range-partitioned and sorted on
    * `keys` (restores row-group pruning, resets the one-file-per-append
    * count). The exact-row distinct rides the fold's own shuffle: a
    * crash-replayed append's duplicate rows heal here, while
    * changed-content re-appends keep both rows per the unique-id
    * contract. A tier with no rows is left alone — folding it would
    * rewrite and flip an empty generation every cadence for nothing.
    * A mid-fold append aborts the flip loudly ("quiesce appends"); the
    * live inc generation is then unchanged and a re-run folds
    * everything. */
  def minorFold(spark: SparkSession, keys: Seq[String])(files: Long => Int): Unit = {
    val fs = VFS(spark)
    val before = VersionedDir.liveListing(fs, uri, incName)
    if (!VersionedDir.hasDataFiles(before)) return
    val cur = incPath(fs)
    val n = spark.read.parquet(cur).count()
    if (n == 0) return
    val next = VersionedDir.next(fs, uri, incName)
    TieredTable.writeSorted(spark.read.parquet(cur).distinct(), uri, keys,
      files(n), next)
    // race injection: the read → guarded-commit window (an append
    // landing here must abort the flip, never vanish)
    FlipHooks.at(s"tiered.$name.fold.beforeCommit")
    VersionedDir.commitGuarded(fs, uri, incName, next, before, grace = 2)
  }

  /** MAJOR maintenance: `write` fills the next base generation (the
    * caller reads base ∪ inc itself and owns the layout), which is then
    * committed, and the inc tier is reset to an empty generation. Both
    * listings are taken BEFORE the caller's read: the base flip and the
    * inc reset are each guarded against them, so an append that landed
    * mid-major (its rows live in the inc tier but not the new base)
    * aborts loudly instead of being dropped with the old inc tier.
    * Between the flip and the reset — the `afterFlip` [[FlipHooks]]
    * point — and after an abort there, appended rows live in BOTH
    * tiers: readers see duplicates (see [[resolve]]), and the next
    * major's distinct heals them. Returns `write`'s result. */
  def major[A](spark: SparkSession, afterFlip: String)(write: String => A): A = {
    val fs = VFS(spark)
    val incBefore = VersionedDir.liveListing(fs, uri, incName)
    val before = VersionedDir.liveListing(fs, uri, name)
    val next = VersionedDir.next(fs, uri, name)
    val out = write(next)
    VersionedDir.commitGuarded(fs, uri, name, next, before)
    FlipHooks.at(afterFlip)
    if (VersionedDir.hasDataFiles(incBefore))
      VersionedDir.resetEmptyGuarded(fs, uri, incName, incBefore, grace = 2)
    out
  }
}

object TieredTable {

  /** File count for `rows` rows at ~250k rows per file (at least one). */
  def filesFor(rows: Long): Int = math.max(1, math.ceil(rows / 250000.0).toInt)

  /** Overwrite `target` with `df` range-partitioned into `files` files
    * on `keys` and sorted on them within each file, with the index's
    * write options (encryption inherited from the `uri` dir marker). */
  def writeSorted(df: DataFrame, uri: String, keys: Seq[String], files: Int,
      target: String): Unit =
    df.repartitionByRange(math.max(1, files), keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite")
      .options(Encryption.dirWriteOptions(df.sparkSession, uri))
      .parquet(target)

  /** Tier stats + major-compact advisory over `tables`: base = their
    * live base generations, inc = their live inc generations. Listings
    * only, no data read — cheap enough for an operator poll loop. */
  def advice(fs: VFS, tables: TieredTable*): MaintenanceAdvice =
    MaintenanceAdvice.of(fs, tables.map(_.basePath(fs)), tables.map(_.incPath(fs)))
}
