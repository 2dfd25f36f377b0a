package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.Shim
import graft.core._
import graft.core.Json._
import graft.query.QueryCondition

/** The array-table: one substrate for every reference capability.
  *
  * Layout of an array URI (our analogue of a TileDB array directory):
  * {{{
  *   uri/
  *     __schema/schema_v00001.json ...      # evolution = new version
  *     __fragments/f_<ts>_<seq>_<uuid8>/data/part-... (parquet)  # one immutable fragment per write
  *     __fragments/f_<ts>_<seq>_<uuid8>/__manifest.json  # MBR per dim, cell count, ts, schema ver
  *     __deletes/d_<ts>_<seq>.json          # conditional-delete log entries
  *     __meta.json                          # array metadata KV
  *     __trash/...                          # superseded fragments until vacuum
  * }}}
  *
  * MVCC semantics reproduced from the reference (fragments + timestamps,
  * reference: tiledb/array.py:301-339,963-985; tiledb/fragment.py:13-270):
  *  - every write is an immutable timestamped fragment
  *  - reads at a timestamp range see only fragments within it (time travel)
  *  - later fragments shadow earlier cells at the same coordinates unless
  *    `allows_duplicates` (window dedup, applied only when fragment MBRs
  *    actually overlap)
  *  - conditional deletes are tombstone log entries applied at read time;
  *    consolidation with purge rewrites without matching rows
  *    (reference: tiledb/array.py:625-659,729-792)
  *
  * Scale design: fragment listing + MBR/timestamp pruning are driver-side
  * metadata ops (like partition pruning); the data path is a plain
  * multi-path Parquet scan, so predicate/projection pushdown, vectorized
  * reads and AQE all apply. The shadowing window (the one shuffle) is
  * skipped whenever manifests prove no fragment overlap.
  */
object ArrayTable {

  val TS = "__ts"; val SEQ = "__seq"

  case class FragmentInfo(
      path: String, name: String, ts: Long, seq: Long, cellCount: Long,
      schemaVersion: Int, mbr: Map[String, (JVal, JVal)]) {
    def nonEmptyDomain: Map[String, (JVal, JVal)] = mbr
  }

  /** One delete-log entry. `truncate = true` marks a whole-table
    * truncation event: fragments at or before (ts, seq) are hidden from
    * reads whose window includes the entry, with no data moved — bare
    * SQL `DELETE FROM t` and `INSERT OVERWRITE` use this so time travel
    * below the truncation still resolves full history. `cond` is empty
    * for truncations. */
  case class DeleteEntry(path: String, ts: Long, cond: String,
      seq: Long = 0L, truncate: Boolean = false)

  private def vfs(spark: SparkSession) = VFS(spark)

  // ----------------------------------------------------- at-rest crypto

  // marker lookups are cached per-process: the marker is written once
  // at create and never mutated (create/deleteArray invalidate). The
  // value is the key NAME only — key material lives in session config
  // (graft.storage.Encryption), never in any array file.
  private val encCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  /** The key id the array at `uri` is encrypted with, None = plaintext
    * (reference: tiledb/array.py:304-305 `Array.create(key=)`). */
  def encryptionKeyId(spark: SparkSession, uri: String): Option[String] =
    encCache.computeIfAbsent(uri, u => readEncMarker(spark, u))

  private def readEncMarker(spark: SparkSession, uri: String): Option[String] = {
    val p = s"$uri/${Encryption.MarkerFile}"
    val fs = vfs(spark)
    if (fs.exists(p)) Json.parse(fs.readString(p)).obj("key_id").map(_.str)
    else None
  }

  /** Uncached marker read, refreshing the cache. Every WRITE path uses
    * this: a cached stale None must never decide a write — if another
    * driver deleted and re-created the uri as an encrypted array, a
    * cached-plaintext append would silently write cleartext into it (a
    * data leak, where the read-side failure mode is merely a loud
    * decrypt error). One marker stat per write is noise next to the
    * write itself. */
  private def encryptionKeyIdFresh(spark: SparkSession, uri: String): Option[String] = {
    val id = readEncMarker(spark, uri)
    encCache.put(uri, id)
    id
  }

  private def encKey(spark: SparkSession, uri: String): Option[Array[Byte]] =
    encryptionKeyId(spark, uri).map(id =>
      Encryption.requireKey(spark.sparkContext.hadoopConfiguration, id, uri))

  private def encKeyFresh(spark: SparkSession, uri: String): Option[Array[Byte]] =
    encryptionKeyIdFresh(spark, uri).map(id =>
      Encryption.requireKey(spark.sparkContext.hadoopConfiguration, id, uri))

  /** Sidecar IO for files that carry user data (schema, manifests with
    * MBR coordinate values, delete conditions, metadata KV): AES-GCM
    * envelopes when the array is encrypted, plain JSON otherwise. The
    * file's role is bound as GCM AAD. */
  private def sidecarWrite(spark: SparkSession, uri: String, path: String,
      role: String, content: String): Unit =
    Encryption.envelopeWrite(spark, encKeyFresh(spark, uri), path, role, content)

  /** [[sidecarWrite]] for a sidecar whose PRESENCE marks its fragment
    * live (the manifest): the envelope goes to a `_`-prefixed temp file
    * in the same directory and is renamed onto `path`, so a concurrent
    * [[fragments]] that sees the file always parses it whole. */
  private def sidecarCommit(spark: SparkSession, uri: String, path: String,
      role: String, content: String): Unit = {
    val slash = path.lastIndexOf('/')
    val tmp = s"${path.substring(0, slash)}/_${path.substring(slash + 1)}.tmp"
    sidecarWrite(spark, uri, tmp, role, content)
    require(vfs(spark).rename(tmp, path), s"could not commit $path")
  }

  private def sidecarRead(spark: SparkSession, uri: String, path: String,
      role: String): String =
    Encryption.envelopeRead(spark, encKey(spark, uri), path, role)

  // ---------------------------------------------------------------- DDL

  /** Create an empty array-table from a schema (reference:
    * tiledb/array.py:397-451 `Array.create`; `encryptionKey` maps the
    * reference's `key=` AES-256-GCM encryption — see
    * [[graft.storage.Encryption]] for the two-layer design). The key
    * must already be registered via `Encryption.enable`; only its NAME
    * is recorded in the array. */
  def create(spark: SparkSession, uri: String, schema: ArraySchema,
      overwrite: Boolean = false, encryptionKey: Option[String] = None): Unit = {
    val fs = vfs(spark)
    if (fs.exists(uri)) {
      if (overwrite) fs.delete(uri)
      else if (fs.exists(s"$uri/__schema")) sys.error(s"array already exists at $uri")
    }
    encCache.remove(uri)
    fs.mkdirs(s"$uri/__schema")
    fs.mkdirs(s"$uri/__fragments")
    encryptionKey.foreach { id =>
      // fail NOW if the session has no such key — a created-but-
      // unwritable encrypted array helps nobody
      Encryption.requireKey(spark.sparkContext.hadoopConfiguration, id, uri)
      fs.writeString(s"$uri/${Encryption.MarkerFile}",
        JObj(Seq("cipher" -> JStr("AES_256_GCM"), "key_id" -> JStr(id))).render)
    }
    sidecarWrite(spark, uri, schemaPath(uri, 1), "schema",
      schema.copy(version = 1).toJson)
  }

  def exists(spark: SparkSession, uri: String): Boolean =
    vfs(spark).exists(s"$uri/__schema")

  private def schemaPath(uri: String, v: Int): String =
    f"$uri/__schema/schema_v$v%05d.json"

  def schemaVersions(spark: SparkSession, uri: String): Seq[Int] =
    vfs(spark).ls(s"$uri/__schema")
      .map(p => p.substring(p.lastIndexOf("schema_v") + 8).stripSuffix(".json").toInt)
      .sorted

  def schemaOf(spark: SparkSession, uri: String, version: Option[Int] = None): ArraySchema = {
    val v = version.getOrElse(schemaVersions(spark, uri).lastOption
      .getOrElse(sys.error(s"no array at $uri")))
    ArraySchema.fromJson(sidecarRead(spark, uri, schemaPath(uri, v), "schema"))
  }

  /** Schema evolution: write version n+1 (reference:
    * tiledb/schema_evolution.py:9-74). Old fragments keep their version;
    * reads fill added attrs with their fill value. */
  def evolve(spark: SparkSession, uri: String)(f: ArraySchema => ArraySchema): ArraySchema = {
    val cur = schemaOf(spark, uri)
    val next = f(cur).copy(version = cur.version + 1)
    sidecarWrite(spark, uri, schemaPath(uri, next.version), "schema", next.toJson)
    next
  }

  def addAttr(spark: SparkSession, uri: String, attr: Attr): ArraySchema =
    evolve(spark, uri)(s => s.copy(attrs = s.attrs :+ attr))
  def dropAttr(spark: SparkSession, uri: String, name: String): ArraySchema =
    evolve(spark, uri)(s => s.copy(attrs = s.attrs.filterNot(_.name == name)))
  def extendEnum(spark: SparkSession, uri: String, enumName: String, more: Seq[String]): ArraySchema =
    evolve(spark, uri)(s => s.copy(enums = s.enums.map(e =>
      if (e.name == enumName) e.extend(more) else e)))

  def deleteArray(spark: SparkSession, uri: String): Unit = {
    encCache.remove(uri)
    vfs(spark).delete(uri)
  }

  // ------------------------------------------------------------- writes

  /** Write a DataFrame as one immutable fragment. Rows are range-
    * partitioned and sorted by the dims (the Spark analogue of tile
    * layout + cell order, reference: tiledb/array.py:820-985) so parquet
    * row-group min/max stats prune like tiles. */
  def write(spark: SparkSession, df: DataFrame, uri: String,
      tsOpt: Option[Long] = None): FragmentInfo = {
    val schema = schemaOf(spark, uri)
    val fs = vfs(spark)
    val dims = schema.dimNames
    // enum-labelled attrs arriving as values (strings) encode to codes
    val encoded = schema.attrs.filter(_.enumLabel.isDefined).foldLeft(df) { (acc, a) =>
      if (acc.columns.contains(a.name) && acc.schema(a.name).dataType == StringType) {
        val e = schema.enumeration(a.enumLabel.get)
        val m = map(e.values.zipWithIndex.flatMap { case (v, i) => Seq(lit(v), lit(i)) }: _*)
        acc.withColumn(a.name, when(col(a.name).isNull, lit(null))
          .otherwise(coalesce(element_at(m, col(a.name)),
            raise_error(concat(lit(s"value not in enumeration ${e.name}: "), col(a.name))))))
      } else acc
    }
    // fixed-ncells cells (complex / record dtypes) must conform exactly
    val sized = schema.attrs
      .flatMap(a => Dtypes.ncellsOf(a.dtype).map(a.name -> _))
      .foldLeft(encoded) { case (acc, (name, k)) =>
        if (!acc.columns.contains(name)) acc
        else acc.withColumn(name, when(col(name).isNull, col(name))
          .otherwise(when(size(col(name)) === k, col(name))
            .otherwise(raise_error(concat(
              lit(s"attr $name expects $k cells per value, got "),
              size(col(name)).cast(StringType))))))
      }
    val cols = schema.sparkSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    val projected = sized.select(cols.toSeq: _*)
    val laidOut = schema.cellOrder match {
      case "unordered" => projected
      case "col-major" =>
        val rev = dims.reverse.map(col)
        projected.repartitionByRange(rev: _*).sortWithinPartitions(rev: _*)
      case "hilbert" => hilbertLayout(schema, projected).getOrElse(
        projected.repartitionByRange(dims.map(col): _*).sortWithinPartitions(dims.map(col): _*))
      case _ => // row-major
        projected.repartitionByRange(dims.map(col): _*).sortWithinPartitions(dims.map(col): _*)
    }
    val seq = nextSeq(spark, uri)
    val ts = tsOpt.getOrElse(System.currentTimeMillis())
    // The uuid suffix makes fragment directories collision-proof under
    // CONCURRENT writers (independent drivers on shared storage can
    // compute the same (ts, seq) from the same manifest snapshot —
    // without the suffix the second write would clobber the first's
    // directory). MVCC order between equal (ts, seq) fragments is
    // unspecified, matching the reference's concurrent same-timestamp
    // semantics; commit is still the manifest write, so readers never
    // see a half-written fragment (reference: libtiledb fragment
    // naming, tiledb/fragment.py:13-40 uuid-named fragment URIs).
    val name = f"f_$ts%013d_$seq%05d_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val fragDir = s"$uri/__fragments/$name"
    // encrypted arrays: uniform parquet modular encryption — footer,
    // stats and every column page are ciphertext under the array key.
    // FRESH marker lookup: a stale cached None must never decide a
    // write (see encryptionKeyIdFresh)
    val encOpts = encryptionKeyIdFresh(spark, uri)
      .map(Encryption.writeOptions).getOrElse(Map.empty)
    laidOut.write.mode("overwrite")
      .options(Filters.writeOptions(schema.attrs.map(a => a.name -> a.filters)) ++ encOpts)
      .parquet(s"$fragDir/data")
    // manifest stats from parquet FOOTERS (pure metadata — writing a
    // fragment never re-scans its own data); scan fallback for dim
    // types without usable footer statistics
    val (cellCount, mbr) = FooterStats.collect(
        spark.sparkContext.hadoopConfiguration, s"$fragDir/data", dims)
      .getOrElse {
        val written = spark.read.parquet(s"$fragDir/data")
        val aggs = count(lit(1)).as("__n") +:
          dims.flatMap(d => Seq(min(col(d)).as(s"${d}__min"), max(col(d)).as(s"${d}__max")))
        val row = written.agg(aggs.head, aggs.tail: _*).collect()(0)
        (row.getAs[Long]("__n"), dims.map { d =>
          d -> (anyToJ(row.getAs[Any](s"${d}__min")), anyToJ(row.getAs[Any](s"${d}__max")))
        }.toMap)
      }
    val info = FragmentInfo(fragDir, name, ts, seq, cellCount, schema.version, mbr)
    // current_domain enforcement: written MBR must sit inside the
    // writable rectangle (checked from footer stats — no extra scan)
    schema.currentDomain.foreach { cd =>
      cd.foreach { case (d, (loS, hiS)) =>
        (mbr.get(d), scala.util.Try((loS.toDouble, hiS.toDouble)).toOption) match {
          case (Some((mLo, mHi)), Some((lo, hi))) =>
            (jNum(mLo), jNum(mHi)) match {
              case (Some(a), Some(b)) if a < lo || b > hi =>
                fs.delete(fragDir)
                sys.error(s"write outside current_domain on dim $d: [$a,$b] not in [$lo,$hi]")
              case _ =>
            }
          case _ =>
        }
      }
    }
    sidecarCommit(spark, uri, s"$fragDir/__manifest.json", "manifest", manifestJson(info))
    info
  }

  /** Re-encrypt an array under a different key id, encrypt a plaintext
    * array in place, or decrypt one (`newKeyId = None`) — the key
    * ROTATION op (AES-GCM has no in-place re-key; rotation is a
    * rewrite by construction, here shaped like a consolidation pass
    * that preserves MVCC exactly). Every fragment is decrypt-read and
    * re-encrypt-written under its ORIGINAL (name, ts, seq, schema
    * version) with its schema version's codec filters, and schema
    * history, delete log and metadata KV are re-enveloped byte
    * content, so reads before and after rotation resolve identically
    * (pinned by the rotation spec). Derived profile sketches are
    * DROPPED (counted via `Stats`), not carried: they would otherwise
    * remain under the retired key, and they rebuild incrementally by
    * design (`CALL system.histogram/cms/profile`).
    *
    * Offline maintenance like consolidate: not safe against writers
    * running DURING the rotation. Cost model: one decrypt-read +
    * encrypt-write job per fragment (measured 0.7 s for sf0.1
    * lineitem, BASELINE r13) — on a many-fragment array the
    * per-fragment job overhead dominates, so consolidate first; the
    * trash guard below already requires a vacuum-clean state. Crash
    * safety: the new tree builds in a sibling `.__rekey` dir; the
    * live array is swapped via rename (old tree parked at
    * `.__rekey_old` until the final delete), so a crash leaves either
    * the old or the new tree intact, never neither — and a RETRY
    * after a crash between the two renames restores the parked tree
    * before doing anything destructive. */
  def reencryptArray(spark: SparkSession, uri: String,
      newKeyId: Option[String]): Unit = {
    val fs = vfs(spark)
    newKeyId.foreach(id =>
      Encryption.requireKey(spark.sparkContext.hadoopConfiguration, id, uri))
    val tmp = s"$uri.__rekey"
    val old = s"$uri.__rekey_old"
    // crash recovery BEFORE any delete: a previous rotation that died
    // between the two swap renames leaves uri ABSENT with the original
    // parked at `old` — restore it first, or a blind delete of the
    // parked tree would destroy the only surviving copies (the retry
    // path must honor the "old or new tree intact, never neither"
    // contract, including across its own re-runs)
    if (!fs.exists(s"$uri/__schema") && fs.exists(s"$old/__schema")) {
      require(fs.rename(old, uri),
        s"rekey recovery: could not restore parked tree $old to $uri")
      encCache.remove(uri)
    }
    require(fs.exists(s"$uri/__schema"), s"no array at $uri")
    fs.delete(tmp)
    // `old` may also linger from a rotation that completed its swap but
    // crashed before reclaim — safe to clear only now that uri is live
    fs.delete(old)
    // superseded fragments in __trash would be silently dropped by the
    // rewrite (an implicit vacuum under the retired key) — refuse
    // instead of deciding for the operator
    require(!fs.exists(s"$uri/__trash") || fs.ls(s"$uri/__trash").isEmpty,
      s"$uri has trashed fragments pending vacuum; run vacuum before rekey")
    copyArrayTree(spark, uri, tmp, newKeyId)
    val dropped = fs.ls(uri).map(p => p.substring(p.lastIndexOf('/') + 1))
      .count(_.startsWith("__profile"))
    if (dropped > 0)
      graft.core.Stats.counter(spark, "rekey.sketch_dirs_dropped").add(dropped.toLong)
    // swap: old parked, new in place, then reclaim
    require(fs.rename(uri, old), s"rekey swap: could not park $uri")
    require(fs.rename(tmp, uri), s"rekey swap: could not move new tree to $uri " +
      s"— old tree preserved at $old")
    fs.delete(old)
    // prefix-wide invalidation: label sub-arrays under uri rotated too,
    // and their cached key ids are equally stale
    encCache.keySet.removeIf(_.startsWith(uri))
  }

  /** The rewrite body of [[reencryptArray]]: copy the array tree at
    * `srcUri` into `dstUri` re-enveloped under `newKeyId` — schema
    * history, delete log, metadata KV, every fragment under its
    * ORIGINAL (name, ts, seq, schema version) with its version's codec
    * filters, and dimension-label sub-arrays recursively (labels hold
    * user data and are arrays of their own — a non-recursive rotation
    * would leave them under the retired key). */
  private def copyArrayTree(spark: SparkSession, srcUri: String,
      dstUri: String, newKeyId: Option[String]): Unit = {
    val fs = vfs(spark)
    fs.mkdirs(s"$dstUri/__schema")
    fs.mkdirs(s"$dstUri/__fragments")
    encCache.remove(dstUri)
    newKeyId.foreach { id =>
      fs.writeString(s"$dstUri/${Encryption.MarkerFile}",
        JObj(Seq("cipher" -> JStr("AES_256_GCM"), "key_id" -> JStr(id))).render)
    }
    schemaVersions(spark, srcUri).foreach { v =>
      sidecarWrite(spark, dstUri, schemaPath(dstUri, v), "schema",
        sidecarRead(spark, srcUri, schemaPath(srcUri, v), "schema"))
    }
    if (fs.exists(s"$srcUri/__deletes")) {
      fs.mkdirs(s"$dstUri/__deletes")
      fs.ls(s"$srcUri/__deletes").foreach { p =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        sidecarWrite(spark, dstUri, s"$dstUri/__deletes/$name", "delete",
          sidecarRead(spark, srcUri, p, "delete"))
      }
    }
    if (fs.exists(s"$srcUri/__meta.json"))
      sidecarWrite(spark, dstUri, s"$dstUri/__meta.json", "meta",
        sidecarRead(spark, srcUri, s"$srcUri/__meta.json", "meta"))
    val targetOpts = newKeyId.map(Encryption.writeOptions).getOrElse(Map.empty)
    // per-VERSION write options, resolved once (not once per fragment:
    // each resolution is a sidecar decrypt + parse, and 1k-fragment
    // arrays are the normal case)
    val optsByVersion = scala.collection.mutable.Map.empty[Int, Map[String, String]]
    fragments(spark, srcUri).foreach { f =>
      val dest = s"$dstUri/__fragments/${f.name}"
      val opts = optsByVersion.getOrElseUpdate(f.schemaVersion, {
        val fragSchema = schemaOf(spark, srcUri, Some(f.schemaVersion))
        Filters.writeOptions(fragSchema.attrs.map(a => a.name -> a.filters)) ++
          targetOpts
      })
      spark.read.parquet(s"${f.path}/data").write.mode("overwrite")
        .options(opts).parquet(s"$dest/data")
      sidecarCommit(spark, dstUri, s"$dest/__manifest.json", "manifest",
        manifestJson(f))
    }
    if (fs.exists(s"$srcUri/__labels"))
      fs.ls(s"$srcUri/__labels").foreach { lu =>
        val name = lu.substring(lu.lastIndexOf('/') + 1)
        copyArrayTree(spark, lu, s"$dstUri/__labels/$name", newKeyId)
      }
  }

  /** Expand (never shrink below written data) the current domain —
    * schema evolution op (reference: tiledb/schema_evolution.py:57-74). */
  def expandCurrentDomain(spark: SparkSession, uri: String,
      cd: Map[String, (String, String)]): ArraySchema =
    setCurrentDomain(spark, uri, cd)

  /** Set the current domain to an arbitrary ND-rectangle — shrink
    * included. A shrink is validated against fragment manifests alone
    * (no data scan): every written MBR must stay inside the new
    * rectangle, so no committed cell ever falls outside the declared
    * writable region (reference: tiledb/current_domain.py:8-52,
    * tiledb/ndrectangle.py:9-54; libtiledb only permits expansion at
    * evolve time — the shrink here carries the manifest proof instead). */
  def setCurrentDomain(spark: SparkSession, uri: String,
      cd: Map[String, (String, String)]): ArraySchema = {
    val schema = schemaOf(spark, uri)
    cd.keys.foreach(d =>
      require(schema.dims.exists(_.name == d), s"no such dimension: $d"))
    fragments(spark, uri).foreach { f =>
      cd.foreach { case (d, (loS, hiS)) =>
        f.mbr.get(d).foreach { case (mLo, mHi) =>
          val numeric = for {
            a <- jNum(mLo); b <- jNum(mHi)
            lo <- scala.util.Try(loS.toDouble).toOption
            hi <- scala.util.Try(hiS.toDouble).toOption
          } yield a >= lo && b <= hi
          val inside = numeric.getOrElse((mLo, mHi) match {
            case (JStr(a), JStr(b)) => a >= loS && b <= hiS
            case _ => true // no comparable stats -> conservatively allow
          })
          require(inside, s"cannot set current_domain on dim $d to [$loS,$hiS]: " +
            s"fragment ${f.name} holds written cells in [${mLo.render},${mHi.render}]")
        }
      }
    }
    evolve(spark, uri)(s => s.copy(currentDomain = Some(cd)))
  }

  /** Migrate every fragment written under an older schema version up to
    * the latest one (reference: tiledb/array.py:794-803
    * `upgrade_version`): per old fragment, decode enums with ITS schema
    * version, re-align columns to the current schema (dropped attrs
    * removed, added attrs baked in at their fill value), and rewrite at
    * the original timestamp — MVCC order preserved, old directory moves
    * to `__trash` for vacuum. Afterwards all fragments share the current
    * version, so reads skip per-fragment alignment and the DSv2 columnar
    * fast path re-opens for non-enum arrays. One distributed
    * read+write per stale fragment; fragments already current are
    * untouched. */
  def upgradeVersion(spark: SparkSession, uri: String): Seq[FragmentInfo] = {
    val fs = vfs(spark)
    val target = schemaOf(spark, uri)
    fragments(spark, uri).filter(_.schemaVersion != target.version).map { f =>
      val fragSchema = schemaOf(spark, uri, Some(f.schemaVersion))
      val decoded = decodeEnums(spark.read.parquet(s"${f.path}/data"), fragSchema)
      // align to the current schema at LOGICAL dtypes (enum attrs stay
      // label strings here; write() re-encodes them to current codes)
      val cols = target.dims.map(d =>
          col(d.name).cast(d.sparkField.dataType).as(d.name)) ++
        target.attrs.map { a =>
          val logical = Dtypes.sparkType(a.dtype)
          if (decoded.columns.contains(a.name)) col(a.name).cast(logical).as(a.name)
          else a.fill.map(v => lit(QueryCondition.castFill(v, a.dtype)).cast(logical))
            .getOrElse(lit(null).cast(logical)).as(a.name)
        }
      val info = write(spark, decoded.select(cols: _*), uri, Some(f.ts))
      fs.mkdirs(s"$uri/__trash")
      fs.rename(f.path, s"$uri/__trash/${f.name}")
      info
    }
  }

  /** Create-if-missing + write: the `from_*` ingestion family collapses
    * to this (reference: tiledb/highlevel.py:75-150 from_numpy,
    * tiledb/dataframe_.py:534-779 from_pandas — Spark readers already
    * cover csv/parquet/json fronting). */
  def ingest(spark: SparkSession, df: DataFrame, uri: String, dimCols: Seq[String],
      sparse: Boolean = true, tsOpt: Option[Long] = None,
      overwrite: Boolean = false, allowsDuplicates: Boolean = false,
      inferEnums: Boolean = false, maxEnumValues: Int = 256,
      encryptionKey: Option[String] = None): FragmentInfo = {
    if (overwrite || !exists(spark, uri)) {
      val base = ArraySchema.infer(df.schema, dimCols, sparse)
        .copy(allowsDuplicates = allowsDuplicates && sparse)
      val schema = if (inferEnums) withInferredEnums(df, base, maxEnumValues) else base
      create(spark, uri, schema, overwrite = true, encryptionKey = encryptionKey)
    }
    write(spark, df, uri, tsOpt)
  }

  /** Categorical -> enumeration auto-inference at ingest (the Spark-
    * native analogue of the reference's from_pandas categorical
    * detection, reference: tiledb/dataframe_.py:186-210): string attrs
    * whose cardinality clears `maxEnumValues` become dictionary-encoded
    * enumerations. Two bounded passes: one approx_count_distinct agg
    * (constant-size sketches, map-side partial) screens candidates, one
    * collect_set agg gathers only the qualifying dictionaries (each
    * <= ~maxEnumValues values). */
  private def withInferredEnums(df: DataFrame, schema: ArraySchema,
      maxEnumValues: Int): ArraySchema = {
    val cands = schema.attrs.filter(a =>
      (a.dtype == "utf8" || a.dtype == "ascii") && a.enumLabel.isEmpty)
    if (cands.isEmpty) return schema
    val cardRow = df.agg(
      approx_count_distinct(col(cands.head.name)),
      cands.tail.map(a => approx_count_distinct(col(a.name))): _*).collect()(0)
    val chosen = cands.zipWithIndex
      // 1.1x slack: approx_count_distinct under-estimates up to ~5%
      .filter { case (_, i) => cardRow.getLong(i) <= (maxEnumValues * 1.1).toLong }
      .map(_._1)
    if (chosen.isEmpty) return schema
    val dictRow = df.agg(
      array_sort(collect_set(col(chosen.head.name))),
      chosen.tail.map(a => array_sort(collect_set(col(a.name)))): _*).collect()(0)
    val enums = chosen.zipWithIndex.map { case (a, i) =>
      Enumeration(s"${a.name}_enum", dictRow.getSeq[String](i))
    }
    val chosenNames = chosen.map(_.name).toSet
    schema.copy(
      enums = schema.enums ++ enums,
      attrs = schema.attrs.map(a =>
        if (chosenNames(a.name)) a.copy(enumLabel = Some(s"${a.name}_enum")) else a))
  }

  /** Hilbert cell order: partition + sort fragments by the Hilbert
    * index of domain-normalized coordinates, giving multi-dimensional
    * locality so row-group stats prune on every dim, not just the
    * leading one. Requires integer dims with declared domains. */
  private def hilbertLayout(schema: ArraySchema, df: DataFrame): Option[DataFrame] = {
    val dims = schema.dims
    val allInt = dims.forall(d => d.domain.isDefined &&
      (d.dtype.startsWith("int") || d.dtype.startsWith("uint")))
    if (!allInt || dims.isEmpty) None
    else {
      val bits = math.min(20, 63 / dims.size)
      val coords = dims.map { dm =>
        val (loS, hiS) = dm.domain.get
        val lo = loS.toLong
        val extent = math.max(1L, hiS.toLong - lo)
        val needed = 64 - java.lang.Long.numberOfLeadingZeros(extent)
        val shift = math.max(0, needed - bits)
        shiftright(col(dm.name).cast(LongType) - lit(lo), shift)
      }
      val h = graft.functions.HilbertIndex(coords, bits)
      Some(df.withColumn("__hilbert", h)
        .repartitionByRange(col("__hilbert"))
        .sortWithinPartitions(col("__hilbert"))
        .drop("__hilbert"))
    }
  }

  private def nextSeq(spark: SparkSession, uri: String): Long =
    (fragments(spark, uri).map(_.seq) ++
      deletes(spark, uri).flatMap(d => Seq(d.ts, d.seq))).foldLeft(0L)(_ max _) + 1

  private def manifestJson(i: FragmentInfo): String = JObj(Seq(
    "name" -> JStr(i.name), "ts" -> JLong(i.ts), "seq" -> JLong(i.seq),
    "cell_count" -> JLong(i.cellCount), "schema_version" -> JLong(i.schemaVersion),
    "mbr" -> JObj(i.mbr.toSeq.map { case (d, (lo, hi)) => d -> JArr(Seq(lo, hi)) }),
  )).render

  private def anyToJ(v: Any): JVal = v match {
    case null => JNull
    case n: java.lang.Number => n match {
      case d: java.lang.Double => JNum(d)
      case f: java.lang.Float => JNum(f.toDouble)
      case x => JLong(x.longValue())
    }
    case t: java.sql.Timestamp => JLong(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case d: java.sql.Date => JStr(d.toString)
    case i: java.time.Instant => JLong(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      JLong(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
    case s: String => JStr(s)
    case b: Boolean => JBool(b)
    case other => JStr(other.toString)
  }

  // ---------------------------------------------------------- fragments

  def fragments(spark: SparkSession, uri: String): Seq[FragmentInfo] = {
    val fs = vfs(spark)
    fs.ls(s"$uri/__fragments").filter(p => fs.exists(s"$p/__manifest.json")).map { p =>
      val o = Json.parse(sidecarRead(spark, uri, s"$p/__manifest.json", "manifest")).obj
      FragmentInfo(p, o("name").get.str, o("ts").get.long, o("seq").get.long,
        o("cell_count").get.long, o("schema_version").get.long.toInt,
        o("mbr").get.obj.fields.map { case (d, JArr(Seq(lo, hi))) => d -> (lo, hi)
          case (d, _) => d -> (JNull, JNull) }.toMap)
    }.sortBy(f => (f.ts, f.seq, f.name))
  }

  def deletes(spark: SparkSession, uri: String): Seq[DeleteEntry] = {
    val fs = vfs(spark)
    fs.ls(s"$uri/__deletes").map { p =>
      val o = Json.parse(sidecarRead(spark, uri, p, "delete")).obj
      DeleteEntry(p, o("ts").get.long, o("cond").map(_.str).getOrElse(""),
        seq = o("seq").map(_.long).getOrElse(0L),
        truncate = o("truncate").exists(_.bool))
    }.sortBy(d => (d.ts, d.seq))
  }

  /** Fragments/tombstones still in effect after whole-table truncation
    * entries in `dels`: fragments strictly after the newest truncation's
    * (ts, seq) survive; conditional tombstones wholly before it are
    * no-ops (every row they could match is hidden) and are dropped so
    * they don't force the resolution path. */
  def applyTruncation(frags: Seq[FragmentInfo], dels: Seq[DeleteEntry])
      : (Seq[FragmentInfo], Seq[DeleteEntry]) = {
    val truncs = dels.filter(_.truncate)
    if (truncs.isEmpty) (frags, dels.filterNot(_.truncate))
    else {
      val (cutTs, cutSeq) = truncs.map(d => (d.ts, d.seq)).max
      (frags.filter(f => f.ts > cutTs || (f.ts == cutTs && f.seq > cutSeq)),
        dels.filter(d => !d.truncate && d.ts >= cutTs))
    }
  }

  /** Conditional delete: a tombstone (cond, ts) applied by readers to
    * fragments at or before ts (reference: open-mode 'd' submit,
    * tiledb/sparse_array.py:559-585; tests test_query_condition.py:
    * 1095-1251). Validates the condition against the schema now. */
  def delete(spark: SparkSession, uri: String, cond: String,
      tsOpt: Option[Long] = None): Unit = {
    val schema = schemaOf(spark, uri)
    QueryCondition.compile(cond, Some(schema)) // validate eagerly
    val fs = vfs(spark)
    fs.mkdirs(s"$uri/__deletes")
    val ts = tsOpt.getOrElse(System.currentTimeMillis())
    val seq = nextSeq(spark, uri)
    sidecarWrite(spark, uri, f"$uri/__deletes/d_$ts%013d_$seq%05d.json", "delete",
      JObj(Seq("ts" -> JLong(ts), "seq" -> JLong(seq), "cond" -> JStr(cond))).render)
  }

  /** Whole-table truncation as an MVCC event: one metadata write that
    * hides every fragment at or before it from subsequent reads, while
    * time travel with an upper bound below the truncation still sees
    * full history. Nothing is moved or rewritten — `consolidate` then
    * `vacuum` reclaim the space. The (ts, seq) tiebreak means a write
    * issued after the truncation is visible even within the same
    * millisecond. Backs SQL `DELETE FROM t` (no WHERE) and the
    * pre-insert step of `INSERT OVERWRITE`. */
  def truncate(spark: SparkSession, uri: String, tsOpt: Option[Long] = None): Unit = {
    val fs = vfs(spark)
    fs.mkdirs(s"$uri/__deletes")
    val ts = tsOpt.getOrElse(System.currentTimeMillis())
    val seq = nextSeq(spark, uri)
    sidecarWrite(spark, uri, f"$uri/__deletes/d_$ts%013d_$seq%05d.json", "delete",
      JObj(Seq("ts" -> JLong(ts), "seq" -> JLong(seq),
        "truncate" -> JBool(true))).render)
  }

  /** Drop whole fragments in a timestamp range (reference:
    * tiledb/array.py:625-659 `delete_fragments`). */
  def deleteFragments(spark: SparkSession, uri: String, t0: Long, t1: Long): Unit = {
    val fs = vfs(spark)
    fragments(spark, uri).filter(f => f.ts >= t0 && f.ts <= t1).foreach { f =>
      fs.mkdirs(s"$uri/__trash")
      fs.rename(f.path, s"$uri/__trash/${f.name}")
    }
  }

  private def fragmentNamed(spark: SparkSession, uri: String, name: String): FragmentInfo =
    fragments(spark, uri).find(_.name == name)
      .getOrElse(sys.error(s"no fragment $name at $uri"))

  /** Copy one fragment into another (schema-compatible) array as a new
    * fragment at the same timestamp (reference: fragment copy tools,
    * tiledb/fragment.py:273-385). Data is re-laid-out and re-validated
    * against the target schema. */
  def copyFragment(spark: SparkSession, fromUri: String, fragName: String,
      toUri: String): FragmentInfo = {
    val f = fragmentNamed(spark, fromUri, fragName)
    write(spark, spark.read.parquet(s"${f.path}/data"), toUri, Some(f.ts))
  }

  /** Rewrite a fragment in place from its own data — fresh layout and
    * fresh footer stats at the same timestamp (reference: fragment
    * recreate tool, tiledb/fragment.py:387-511). The old directory moves
    * to __trash (vacuum removes it). */
  def recreateFragment(spark: SparkSession, uri: String, fragName: String): FragmentInfo = {
    val fs = vfs(spark)
    val f = fragmentNamed(spark, uri, fragName)
    val info = write(spark, spark.read.parquet(s"${f.path}/data"), uri, Some(f.ts))
    fs.mkdirs(s"$uri/__trash")
    fs.rename(f.path, s"$uri/__trash/${f.name}")
    info
  }

  /** Per-row-group MBRs of one fragment — the reference's per-tile
    * `mbrs` surface (reference: tiledb/fragment.py:13-270), straight
    * from parquet footers. */
  def fragmentMbrs(spark: SparkSession, uri: String,
      fragName: String): Seq[Map[String, (JVal, JVal)]] = {
    val f = fragmentNamed(spark, uri, fragName)
    FooterStats.rowGroupMbrs(spark.sparkContext.hadoopConfiguration,
      s"${f.path}/data", schemaOf(spark, uri).dimNames)
  }

  // -------------------------------------------------------------- reads

  /** The open-timestamp window of optional `t0`/`t1` bounds; None
    * when neither is set. */
  def window(t0: Option[Long], t1: Option[Long]): Option[(Long, Long)] =
    if (t0.isEmpty && t1.isEmpty) None
    else Some((t0.getOrElse(0L), t1.getOrElse(Long.MaxValue)))

  /** What one read sees: the fragments and conditional tombstones in
    * effect (after whole-table truncation, see [[applyTruncation]]),
    * and the facts a read derives from them. `truncated` records that
    * a truncation entry fell in the window. */
  case class Selection(schema: ArraySchema, frags: Seq[FragmentInfo],
      dels: Seq[DeleteEntry], truncated: Boolean = false) {
    /** Later fragments may shadow earlier cells: the read needs the
      * dedup window. */
    lazy val needDedup: Boolean =
      !schema.allowsDuplicates && frags.size > 1 && anyOverlap(frags)
    /** Every fragment was written under the current schema version. */
    def singleVersion: Boolean = frags.forall(_.schemaVersion == schema.version)
    /** A BARE multi-path parquet scan reads these fragments exactly: no
      * shadowing dedup, no tombstones, no version alignment, no enum
      * decode. */
    def fastPath: Boolean = frags.nonEmpty && !needDedup && dels.isEmpty &&
      singleVersion && schema.attrs.forall(_.enumLabel.isEmpty)
    /** Fragment MBR pruning against per-dim inclusive bounds. */
    def pruned(ranges: Map[String, (Option[Any], Option[Any])]): Selection =
      if (ranges.isEmpty) this else copy(frags = frags.filter(f => mbrIntersects(f, ranges)))
    /** MIN or MAX of `dim` from fragment MBRs alone: None unless the dim
      * is [[mbrServable]], there is a fragment, every fragment records
      * the endpoint, and the endpoints compare — all numeric (exact, via
      * BigDecimal) or all strings. */
    def mbrExtreme(dim: String, takeMin: Boolean): Option[JVal] = {
      val ends = frags.map(f => f.mbr.get(dim).map(p => if (takeMin) p._1 else p._2))
      if (!mbrServable(schema, dim) || frags.isEmpty || ends.exists(_.isEmpty)) None
      else {
        val vals = ends.flatten
        val nums = vals.map {
          case JLong(l) => Some(BigDecimal(l)); case JNum(n) => Some(BigDecimal(n))
          case _ => None
        }
        if (nums.forall(_.isDefined)) {
          val z = vals.zip(nums.map(_.get))
          Some((if (takeMin) z.minBy(_._2) else z.maxBy(_._2))._1)
        } else if (vals.forall(_.isInstanceOf[JStr])) {
          val ss = vals.collect { case s: JStr => s }
          Some(if (takeMin) ss.minBy(_.v) else ss.maxBy(_.v))
        } else None
      }
    }
  }

  /** Dims whose fragment MBR endpoints answer MIN/MAX exactly:
    * integral, floating and string types. */
  def mbrServable(schema: ArraySchema, dim: String): Boolean =
    schema.dims.find(_.name == dim).exists(_.sparkField.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | StringType => true
      case _ => false
    })

  /** The one fragment selection of every array read: fragments and
    * tombstones in the time window `at` -> whole-table truncation ->
    * fragment MBR pruning against `ranges`. Driver-side metadata only. */
  def select(spark: SparkSession, uri: String, at: Option[(Long, Long)] = None,
      ranges: Map[String, (Option[Any], Option[Any])] = Map.empty): Selection = {
    val (t0, t1) = at.getOrElse((0L, Long.MaxValue))
    val inWindow = deletes(spark, uri).filter(d => d.ts >= t0 && d.ts <= t1)
    // truncation is a fragment-level prune, not a row filter — it keeps
    // the fast path available (post-truncate arrays are common after
    // INSERT OVERWRITE)
    val (frags, dels) = applyTruncation(
      fragments(spark, uri).filter(f => f.ts >= t0 && f.ts <= t1), inWindow)
    Selection(schemaOf(spark, uri), frags, dels, inWindow.exists(_.truncate)).pruned(ranges)
  }

  /** Fragments readable through a BARE multi-path parquet scan for the
    * given time-travel window, after MBR pruning against `ranges`
    * ([[Selection.fastPath]]); None when the MVCC resolution path is
    * required. */
  def fastPathFragments(spark: SparkSession, uri: String,
      at: Option[(Long, Long)] = None,
      ranges: Map[String, (Option[Any], Option[Any])] = Map.empty): Option[Seq[FragmentInfo]] =
    Some(select(spark, uri, at, ranges)).filter(_.fastPath).map(_.frags)

  /** Resolve the array to a DataFrame: fragment selection ([[select]])
    * -> multi-path parquet scan -> shadowing dedup -> delete tombstones
    * -> enum decode.
    *
    * @param at      inclusive (start, end) open-timestamp range
    * @param ranges  per-dim inclusive bounds used for fragment MBR
    *                pruning AND as pushed row predicates
    */
  def read(spark: SparkSession, uri: String,
      at: Option[(Long, Long)] = None,
      ranges: Map[String, (Option[Any], Option[Any])] = Map.empty,
      keepVersionCols: Boolean = false): DataFrame =
    resolve(spark, uri, select(spark, uri, at, ranges), ranges, keepVersionCols)

  /** Row-level snapshot diff between two MVCC windows — the CDC-style
    * "what changed between version t and t'" query: rows present at
    * `newAt` but not at `oldAt` surface with change_type='insert', the
    * reverse with 'delete'; an updated cell is its delete/insert pair.
    * Both snapshots carry the ordinary [[read]] semantics (tombstones,
    * truncation, shadowing, enum decode, schema alignment).
    *
    * Scale shape — the manifest fast path: when both windows share a
    * start, the delta window (oldT1, newT1] introduces NO delete
    * entries, no truncation falls in the new window, and no two
    * fragments of the new window overlap on MBRs (shadowing provably
    * impossible — the same manifest test the upsert read uses), the
    * diff IS the delta fragments: ONE scan of exactly the appended
    * data, the old snapshot never read. Time-window tombstones at or
    * before oldT1 cannot touch delta fragments (deletes mask only rows
    * with ts <= delete ts), so they are equal in both snapshots and out
    * of the diff by construction. Anything else (new tombstones,
    * truncation, possible shadowing) falls back to the general
    * two-snapshot multiset anti-diff (`exceptAll` both ways). */
  def diff(spark: SparkSession, uri: String, oldAt: (Long, Long),
      newAt: (Long, Long)): DataFrame = {
    val (o0, o1) = oldAt
    val (n0, n1) = newAt
    require(o1 >= o0 && n1 >= n0, s"bad windows $oldAt / $newAt")
    val sel = select(spark, uri, Some(newAt))
    if (o0 == n0 && n1 >= o1 && !sel.truncated && sel.dels.forall(_.ts <= o1) &&
        !sel.needDedup)
      resolve(spark, uri, sel.copy(frags = sel.frags.filter(_.ts > o1), dels = Nil))
        .withColumn("change_type", lit("insert"))
    else {
      val o = read(spark, uri, at = Some(oldAt))
      val n = read(spark, uri, at = Some(newAt))
      n.exceptAll(o).withColumn("change_type", lit("insert"))
        .unionByName(o.exceptAll(n).withColumn("change_type", lit("delete")))
    }
  }

  /** MVCC resolution of a selection (the read path, and the unit of
    * partial consolidation). */
  private def resolve(spark: SparkSession, uri: String, sel: Selection,
      ranges: Map[String, (Option[Any], Option[Any])] = Map.empty,
      keepVersionCols: Boolean = false): DataFrame = {
    val Selection(schema, frags, dels, _) = sel
    val needDedup = sel.needDedup
    val base =
      if (frags.isEmpty) {
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(schema.sparkSchema.fields :+ StructField(TS, LongType, false)
            :+ StructField(SEQ, LongType, false)))
      } else if (!keepVersionCols && !needDedup && dels.isEmpty && sel.singleVersion) {
        // FAST PATH: no shadowing/deletes/version columns required —
        // ONE multi-path parquet scan over all fragments. This is what
        // keeps planning O(1) in fragment count (a 10k-fragment array
        // must not become a 10k-way union).
        scan(spark, frags, schema).withColumn(TS, lit(0L)).withColumn(SEQ, lit(0L))
      } else {
        // resolution path: (ts, seq) must ride every row for the
        // shadowing window / tombstone filters. They are parsed from
        // the fragment DIRECTORY name, so all same-schema-version
        // fragments share ONE scan: plan size is O(#schema versions),
        // not O(#fragments) — a per-fragment union measured 80.8 s to
        // PLAN a 1k-fragment array with one tombstone (BASELINE.md,
        // "Round 13: many-fragment MVCC resolution").
        val pat = java.util.regex.Pattern.compile(".*/__fragments/f_(\\d+)_(\\d+)_[0-9a-f]{8}$")
        frags.foreach { f =>
          val m = pat.matcher(f.path)
          // a name that does not round-trip the manifest (ts, seq) would
          // read with a NULL or wrong ts and silently widen the tombstone
          // filter; regexp_extract takes the FIRST match per path, so an
          // extra __fragments/ component (an array nested in another's
          // fragment dir) would parse the outer segment
          require(m.matches() && m.group(1).toLong == f.ts && m.group(2).toLong == f.seq &&
            f.path.indexOf("/__fragments/") == f.path.lastIndexOf("/__fragments/"),
            s"fragment dir ${f.path} does not name its manifest (ts=${f.ts}, seq=${f.seq}) " +
              "as __fragments/f_<ts>_<seq>_<uuid8>")
        }
        val re = "/__fragments/f_(\\d+)_(\\d+)_[0-9a-f]{8}/"
        val fnTs = regexp_extract(input_file_name(), re, 1).cast(LongType)
        val fnSeq = regexp_extract(input_file_name(), re, 2).cast(LongType)
        frags.groupBy(_.schemaVersion).toSeq.sortBy(_._1).map { case (ver, group) =>
          val vSchema = if (ver == schema.version) schema else schemaOf(spark, uri, Some(ver))
          alignColumns(scan(spark, group, vSchema), schema, vSchema)
            .withColumn(TS, fnTs).withColumn(SEQ, fnSeq)
        }.reduce(_ unionByName _)
      }

    val ranged = applyRanges(base, ranges)
    val deduped =
      if (!needDedup) ranged
      else {
        val w = Window.partitionBy(schema.dimNames.map(col): _*)
          .orderBy(col(TS).desc, col(SEQ).desc)
        ranged.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      }
    val afterDeletes = dels.foldLeft(deduped) { (df, d) =>
      val c = QueryCondition.compile(d.cond, Some(schema))
      // a NULL-evaluating condition does NOT match the cell (reference
      // null-comparison semantics, and SQL DELETE's keep-on-NULL rule)
      // — without the coalesce, !(NULL && ...) is NULL and the filter
      // silently DROPS rows the delete predicate never matched
      df.filter(!(coalesce(c, lit(false)) && col(TS) <= lit(d.ts)))
    }
    val decoded = decodeEnums(afterDeletes, schema)
    if (keepVersionCols) decoded else decoded.drop(TS, SEQ)
  }

  /** The pre-listed file index over `frags`' data dirs, declaring the
    * file schema of the version `s` they were written under. Every
    * array scan — resolution reads and the DSv2 source alike — plans
    * over one of these: no listing job, no footer inference. */
  private[graft] def fileIndex(spark: SparkSession, frags: Seq[FragmentInfo],
      s: ArraySchema): org.apache.spark.sql.execution.datasources.InMemoryFileIndex =
    Shim.leafDirIndex(spark, frags.map(f => s"${f.path}/data"), s.fileSchema)

  private def scan(spark: SparkSession, frags: Seq[FragmentInfo], s: ArraySchema): DataFrame =
    Shim.parquetOf(spark, fileIndex(spark, frags, s), s.fileSchema)

  /** Column alignment across schema versions: missing attrs come back as
    * their fill value (mergeSchema-style evolution). */
  private def alignColumns(df: DataFrame, target: ArraySchema, fragVer: ArraySchema): DataFrame = {
    val cols = target.sparkSchema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else {
        val attr = target.attrs.find(_.name == f.name)
        val fill = attr.flatMap(_.fill).map(v =>
          lit(QueryCondition.castFill(v, attr.get.dtype)).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))
        fill.as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  private def applyRanges(df: DataFrame,
      ranges: Map[String, (Option[Any], Option[Any])]): DataFrame = {
    val preds = ranges.toSeq.flatMap { case (d, (lo, hi)) =>
      Seq(lo.map(v => col(d) >= lit(v)), hi.map(v => col(d) <= lit(v))).flatten
    }
    if (preds.isEmpty) df else df.filter(preds.reduceLeft(_ && _))
  }

  private def jNum(v: JVal): Option[Double] = v match {
    case JLong(l) => Some(l.toDouble); case JNum(d) => Some(d); case _ => None
  }

  private def numOf(a: Any): Option[Double] = a match {
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Fragment-level MBR pruning against requested dim ranges (numeric
    * dims; non-numeric comparisons conservatively keep the fragment). */
  private def mbrIntersects(f: FragmentInfo,
      ranges: Map[String, (Option[Any], Option[Any])]): Boolean =
    ranges.forall { case (d, (lo, hi)) =>
      f.mbr.get(d) match {
        case Some((mLo, mHi)) =>
          val loOk = (lo.flatMap(numOf), jNum(mHi)) match {
            case (Some(l), Some(mh)) => mh >= l
            case _ => true
          }
          val hiOk = (hi.flatMap(numOf), jNum(mLo)) match {
            case (Some(h), Some(ml)) => ml <= h
            case _ => true
          }
          loOk && hiOk
        case None => true
      }
    }

  /** Do any two fragments overlap on every dim MBR? If not, shadowing is
    * impossible and the dedup shuffle is skipped. */
  private def anyOverlap(frags: Seq[FragmentInfo]): Boolean = {
    def overlap(a: FragmentInfo, b: FragmentInfo): Boolean =
      a.mbr.keys.forall { d =>
        (a.mbr.get(d), b.mbr.get(d)) match {
          case (Some((alo, ahi)), Some((blo, bhi))) =>
            (jNum(alo), jNum(ahi), jNum(blo), jNum(bhi)) match {
              case (Some(al), Some(ah), Some(bl), Some(bh)) => al <= bh && bl <= ah
              case _ => true // non-numeric: assume overlap
            }
          case _ => true
        }
      }
    frags.combinations(2).exists { case Seq(a, b) => overlap(a, b) }
  }

  /** Enumeration decode on read via an array-literal lookup — constant-
    * folded and codegen'd, no join at all (reference decodes via
    * DictionaryArray, tiledb/multirange_indexing.py:835-840). */
  private def decodeEnums(df: DataFrame, schema: ArraySchema): DataFrame =
    schema.attrs.filter(_.enumLabel.isDefined).foldLeft(df) { (acc, a) =>
      val e = schema.enumeration(a.enumLabel.get)
      acc.withColumn(a.name, element_at(
        array(e.values.map(lit): _*), col(a.name).cast(IntegerType) + 1))
    }

  /** Encode enum-labelled attrs from values to codes before a write. */
  def encodeEnums(df: DataFrame, schema: ArraySchema): DataFrame =
    schema.attrs.filter(_.enumLabel.isDefined).foldLeft(df) { (acc, a) =>
      val e = schema.enumeration(a.enumLabel.get)
      val m = map(e.values.zipWithIndex.flatMap { case (v, i) => Seq(lit(v), lit(i)) }: _*)
      acc.withColumn(a.name, element_at(m, col(a.name)))
    }

  /** nonempty_domain from fragment manifests only — no data scan
    * (reference: tiledb/array.py:687-727). */
  def nonemptyDomain(spark: SparkSession, uri: String): Map[String, (JVal, JVal)] = {
    val fs = fragments(spark, uri)
    if (fs.isEmpty) Map.empty
    else fs.map(_.mbr).reduce { (a, b) =>
      a.map { case (d, (alo, ahi)) =>
        val (blo, bhi) = b(d)
        val lo = (jNum(alo), jNum(blo)) match {
          case (Some(x), Some(y)) => if (x <= y) alo else blo
          case _ => Seq(alo, blo).minBy(_.render)
        }
        val hi = (jNum(ahi), jNum(bhi)) match {
          case (Some(x), Some(y)) => if (x >= y) ahi else bhi
          case _ => Seq(ahi, bhi).maxBy(_.render)
        }
        d -> (lo, hi)
      }
    }
  }

  // -------------------------------------------------------- maintenance

  /** Merge all visible fragments into one, applying shadowing and
    * (optionally) delete tombstones (reference: tiledb/array.py:729-792
    * consolidate; purge_deleted_cells). Old fragments move to __trash —
    * `vacuum` removes them (reference: tiledb/highlevel.py:274-335). */
  def consolidate(spark: SparkSession, uri: String, purgeDeleted: Boolean = true): FragmentInfo = {
    val fs = vfs(spark)
    val old = fragments(spark, uri)
    require(old.nonEmpty, "nothing to consolidate")
    val maxTs = old.map(_.ts).max
    // no cache: the consolidated fragment is written to a NEW directory
    // while the old fragments stay readable, so the write itself is the
    // materialization — caching would double the working set at scale
    val info = write(spark, read(spark, uri), uri, Some(maxTs))
    fs.mkdirs(s"$uri/__trash")
    old.foreach(f => fs.rename(f.path, s"$uri/__trash/${f.name}"))
    if (purgeDeleted) deletes(spark, uri).filter(_.ts <= maxTs).foreach { d =>
      val n = d.path.substring(d.path.lastIndexOf('/') + 1)
      fs.rename(d.path, s"$uri/__trash/$n")
    }
    info
  }

  def vacuum(spark: SparkSession, uri: String): Unit =
    vfs(spark).delete(s"$uri/__trash")

  /** Size-balanced consolidation plan from fragment manifests only —
    * pure driver metadata, no data scan (reference:
    * tiledb/consolidation_plan.py:9-108). Time-ordered fragments pack
    * greedily into nodes capped at `maxCellsPerNode`; nodes stay
    * time-contiguous so a merged fragment's single timestamp preserves
    * cross-node shadowing order. */
  def consolidationPlan(spark: SparkSession, uri: String,
      maxCellsPerNode: Long = 50000000L): Seq[Seq[FragmentInfo]] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[FragmentInfo]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[FragmentInfo]
    var cells = 0L
    fragments(spark, uri).foreach { f =>
      // never split inside a run of equal timestamps: the merged node
      // takes a fresh (max) seq at its max ts, which must not leapfrog
      // an unmerged same-ts fragment in shadowing order
      if (cur.nonEmpty && cells + f.cellCount > maxCellsPerNode && cur.last.ts != f.ts) {
        groups += cur.toSeq
        cur = scala.collection.mutable.ArrayBuffer.empty[FragmentInfo]
        cells = 0L
      }
      cur += f; cells += f.cellCount
    }
    if (cur.nonEmpty) groups += cur.toSeq
    groups.toSeq
  }

  /** Partial consolidation: merge each multi-fragment plan node into one
    * fragment stamped at the node's max timestamp; single-fragment nodes
    * are left untouched. Delete tombstones are baked into the merged
    * rows (idempotent — readers re-apply them to the new fragment) but
    * the log is preserved, since tombstones may still affect fragments
    * outside the plan. */
  def consolidate(spark: SparkSession, uri: String,
      plan: Seq[Seq[FragmentInfo]]): Seq[FragmentInfo] = {
    val fs = vfs(spark)
    val schema = schemaOf(spark, uri)
    val allDels = deletes(spark, uri)
    plan.filter(_.size >= 2).map { group =>
      val (live, dels) = applyTruncation(group, allDels)
      val merged = resolve(spark, uri, Selection(schema, live, dels))
      val info = write(spark, merged, uri, Some(group.map(_.ts).max))
      fs.mkdirs(s"$uri/__trash")
      group.foreach(f => fs.rename(f.path, s"$uri/__trash/${f.name}"))
      info
    }
  }

  // ----------------------------------------------------------- metadata

  /** Array metadata KV (reference: tiledb/metadata.py:53-263). */
  def putMeta(spark: SparkSession, uri: String, key: String, value: JVal): Unit = {
    val fs = vfs(spark)
    val cur = metaAll(spark, uri)
    val next = JObj((cur.fields.filterNot(_._1 == key) :+ (key -> value)).sortBy(_._1))
    sidecarWrite(spark, uri, s"$uri/__meta.json", "meta", next.render)
  }

  def getMeta(spark: SparkSession, uri: String, key: String): Option[JVal] =
    metaAll(spark, uri)(key)

  def deleteMeta(spark: SparkSession, uri: String, key: String): Unit = {
    val cur = metaAll(spark, uri)
    sidecarWrite(spark, uri, s"$uri/__meta.json", "meta",
      JObj(cur.fields.filterNot(_._1 == key)).render)
  }

  def metaAll(spark: SparkSession, uri: String): JObj = {
    val fs = vfs(spark)
    val p = s"$uri/__meta.json"
    if (fs.exists(p)) Json.parse(sidecarRead(spark, uri, p, "meta")).obj else JObj(Nil)
  }

  private val NpFlat = "__np_flat_"; private val NpShape = "__np_shape_"

  /** ndarray-valued metadata: flattened values + shape stored under
    * companion prefixed keys, mirroring the reference's numpy flattening
    * (reference: tiledb/metadata.py:58-59,81-87). */
  def putMetaNd(spark: SparkSession, uri: String, key: String,
      flat: Seq[JVal], shape: Seq[Long]): Unit = {
    require(shape.product == flat.size,
      s"shape ${shape.mkString("x")} does not match ${flat.size} values")
    putMeta(spark, uri, s"$NpFlat$key", JArr(flat))
    putMeta(spark, uri, s"$NpShape$key", JArr(shape.map(JLong)))
  }

  /** (flat values, shape) of an ndarray-valued metadata entry. */
  def getMetaNd(spark: SparkSession, uri: String, key: String): Option[(Seq[JVal], Seq[Long])] =
    for {
      flat <- getMeta(spark, uri, s"$NpFlat$key")
      shape <- getMeta(spark, uri, s"$NpShape$key")
    } yield (flat.arr, shape.arr.map(_.long))

  def deleteMetaNd(spark: SparkSession, uri: String, key: String): Unit = {
    deleteMeta(spark, uri, s"$NpFlat$key")
    deleteMeta(spark, uri, s"$NpShape$key")
  }

  /** Logical key listing: ndarray companion keys collapse to their bare
    * name (the reference hides the flattening prefixes the same way). */
  def metaKeys(spark: SparkSession, uri: String): Seq[String] =
    metaAll(spark, uri).fields.map(_._1)
      .filterNot(_.startsWith(NpShape))
      .map(k => if (k.startsWith(NpFlat)) k.stripPrefix(NpFlat) else k)
      .distinct.sorted
}
