package graft.storage

/** Reader-safe, crash-safe generation flip for maintained directories
  * (index compaction targets). Generations live side-by-side as
  * `<base>_v<N>`; each is committed by atomically creating a
  * `_COMMITTED` marker AFTER its Spark write completes, and readers
  * resolve the highest committed generation (falling back to the
  * unversioned `<base>` dir that an index build writes, generation 0).
  * The previous generation is kept as a grace copy for readers that
  * resolved just before a flip; older generations and crashed
  * uncommitted attempts are retired by the next commit.
  *
  * This replaces delete-then-rename maintenance swaps, which leave a
  * window (and a crash state) with NO live directory: here a crash at
  * any point leaves either the old generation live (marker never
  * written) or the new one live — a concurrent reader always resolves
  * a complete directory. Same manifest-pointer idea as the array
  * fragment commit (`__manifest.json` presence marks a fragment
  * live); maintenance remains single-writer by contract.
  */
object VersionedDir {

  private def marker(path: String) = s"$path/_COMMITTED"
  private val VerName = """.*_v(\d+)$""".r

  /** All generation dirs of `base` under `uri` (committed or not),
    * including the unversioned build dir as generation 0. */
  private def generations(fs: VFS, uri: String, base: String): Seq[(String, Int)] = {
    val versioned = fs.ls(uri).flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      name match {
        case VerName(n) if name.startsWith(base + "_v") => Some(p -> n.toInt)
        case _ => None
      }
    }
    val built = s"$uri/$base"
    if (fs.exists(built)) versioned :+ (built -> 0) else versioned
  }

  private def isCommitted(fs: VFS, path: String, gen: Int): Boolean =
    gen == 0 || fs.exists(marker(path))

  /** The live (highest committed) generation: (path, generation). */
  def current(fs: VFS, uri: String, base: String): (String, Int) = {
    val committed = generations(fs, uri, base)
      .filter { case (p, n) => isCommitted(fs, p, n) }
    if (committed.isEmpty) (s"$uri/$base", 0) else committed.maxBy(_._2)
  }

  /** Path of the live generation (what readers should open). */
  def resolve(fs: VFS, uri: String, base: String): String =
    current(fs, uri, base)._1

  /** Path the next generation must be written to — strictly above
    * every existing generation dir, committed or not (a crashed
    * leftover at the returned path is removed first). */
  def next(fs: VFS, uri: String, base: String): String = {
    val n = generations(fs, uri, base).map(_._2).maxOption.getOrElse(0) + 1
    val p = s"$uri/${base}_v$n"
    fs.delete(p)
    p
  }

  /** The live generation's recursive file listing — take it BEFORE a
    * maintenance pass reads the live dir, pass it to [[commitGuarded]]
    * after the new generation is written. */
  def liveListing(fs: VFS, uri: String, base: String): Set[String] =
    fs.lsFilesRecursive(resolve(fs, uri, base)).toSet

  /** [[commit]] with the single-writer maintenance contract CHECKED,
    * not just documented: `before` is the live listing taken before
    * the maintenance read. If the live dir gained files in between — a
    * concurrent append, whose rows are NOT in the new generation and
    * would be silently dropped when the old generation retires — the
    * attempt dir is deleted and the flip aborts loudly. The live
    * generation is untouched on abort, so the caller can quiesce
    * appends and re-run. (A file landing between this re-list and the
    * marker write still slips through — the contract stays
    * single-writer; this converts the common violation into a loud
    * failure instead of silent data loss.) */
  def commitGuarded(fs: VFS, uri: String, base: String, path: String,
      before: Set[String], grace: Int = 1): Unit = {
    val added = liveListing(fs, uri, base) -- before
    if (added.nonEmpty) {
      fs.delete(path)
      sys.error(s"maintenance flip of $uri/$base ABORTED: " +
        s"${added.size} file(s) appeared in the live generation during " +
        s"compaction (e.g. ${added.head}) — a concurrent append's rows " +
        "are not in the compacted generation. Maintenance is " +
        "single-writer: quiesce appends, then re-run compact (the live " +
        "generation is unchanged; nothing was lost)")
    }
    commit(fs, uri, base, path, grace)
  }

  /** Does a live listing hold DATA files? The `_COMMITTED` marker (and
    * any `_`/`.` sidecar) rides inside generation dirs and shows up in
    * [[liveListing]], so listing-nonEmpty is NOT "tier has rows" — a
    * freshly-reset empty generation lists exactly its marker. Every
    * fold/reset decision must gate on THIS, or it reads a
    * parquet-file-less dir (schema-inference error). */
  def hasDataFiles(listing: Set[String]): Boolean =
    listing.exists(_.endsWith(".parquet"))

  /** Reset `base` to a fresh EMPTY generation — the inc-tier reset at
    * the end of a major compact. Guarded like [[commitGuarded]]: if
    * files landed in the live generation after `before` was taken
    * (a mid-compact append, whose rows are in the live tier but not
    * the folded base), the flip aborts loudly and nothing is lost. */
  def resetEmptyGuarded(fs: VFS, uri: String, base: String,
      before: Set[String], grace: Int = 1): Unit = {
    val nextGen = next(fs, uri, base)
    fs.mkdirs(nextGen)
    commitGuarded(fs, uri, base, nextGen, before, grace)
  }

  /** Commit `path` (previously returned by [[next]], now fully
    * written) as the live generation, then retire: keep the new live
    * generation plus `grace` grace generations (the PREVIOUS live ones
    * — not merely the next numbers down, which could be crashed
    * uncommitted attempts), delete every other generation including
    * crashed attempts and, beyond the grace window, the build
    * generation 0.
    *
    * `grace` = how many previously-committed generations survive the
    * flip (default 1 — the classic one-grace design). FREQUENTLY
    * flipped bases — the inc tiers, which fold every `compactEvery`
    * streaming batches plus an extra fold per replayed batch — pass 2:
    * an external probe whose scan outlives TWO consecutive flips would
    * otherwise hit FileNotFoundException on its resolved-then-retired
    * generation. The probe-duration contract is therefore: a reader
    * must finish within `grace` maintenance cycles of resolving; size
    * grace to the fold cadence, not the other way around. Grace copies
    * are small for inc tiers (bounded by appends since the last major),
    * so the extra disk is noise; base tiers keep grace = 1 (a second
    * corpus-sized copy is NOT noise, and majors are lull-time rare). */
  def commit(fs: VFS, uri: String, base: String, path: String,
      grace: Int = 1): Unit = {
    fs.writeString(marker(path), "")
    val n = path match { case VerName(v) => v.toInt }
    // keep the `grace` HIGHEST-numbered previously-committed
    // generations (never a crashed uncommitted attempt — readers can't
    // have resolved one); delete everything else, including crashed
    // attempts and, beyond the grace window, generation 0
    // exclusion is by generation NUMBER, never by path string: listed
    // paths are scheme-qualified (file:/...) while the caller's `path`
    // need not be, so a path-equality keep-set would delete the very
    // generation just committed
    val gens = generations(fs, uri, base)
    val keep = gens
      .filter { case (p, k) => k != n && isCommitted(fs, p, k) }
      .sortBy(-_._2).take(math.max(0, grace)).map(_._2).toSet
    gens.foreach { case (p, k) => if (k != n && !keep(k)) fs.delete(p) }
  }
}
