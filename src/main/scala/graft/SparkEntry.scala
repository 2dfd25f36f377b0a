package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.query.{Aggregates, MultiIndex, QueryCondition}
import graft.query.MultiIndex.{Points, RangeIncl, Ranges}
import graft.storage.ArrayTable
import graft.ops.{Curation, Dedup, Multimodal, NgramLm, Search, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** Driver contract: the declared operator surface (SURVEY.md §2/§7.4).
  * Every key returns a DataFrame over the parquet tables in `dir`; keys
  * present in `oracleSql` are checked hash-exact against DuckDB on the
  * same tables.
  *
  * Double-typed aggregates route through exact DECIMAL sums cast back to
  * double on BOTH engines, so results are bit-deterministic regardless
  * of partitioning / accumulation order — a requirement for hash
  * comparison at any scale, and the honest way to aggregate money-typed
  * columns anyway.
  */
object SparkEntry {

  /** Planted-duplicate id offset for the dedup/recall gates. 2^40 keeps
    * planted ids disjoint from real ids at ANY realistic scale factor
    * (a corpus would need a trillion docs to collide); the old 1e6
    * collided as soon as doc_id reached seven digits. */
  private val DupOff = 1L << 40

  /** phrase_scan probe list: multi-word phrases from the synthetic
    * corpus vocabulary (hit at assorted rates), nested/overlapping
    * entries ("table" inside "fast table"), and a guaranteed miss —
    * shared verbatim between the query and its oracle SQL. */
  private val PhraseList = Seq("fast table", "table", "scan slow",
    "value part", "window spark", "agg join", "the line sort",
    "no such phrase xyzzy")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with ts normalized to a session-tz microsecond TIMESTAMP
    * regardless of how the parquet stores it (ns-as-long or NTZ — see
    * [[graft.streaming.EventStreams.normalizeEventTs]]; the session tz
    * is UTC, so the result matches DuckDB's CAST(ts AS TIMESTAMP)). */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.normalizeEventTs(t(s, dir, "events"))

  /** order-insensitive exact sum of a money-like double: decimal in,
    * double out */
  private def dsum(c: Column, name: String, scale: Int = 2): Column =
    sum(c.cast(DecimalType(25, scale))).cast(DoubleType).as(name)

  // ------------------------------------------------------ array builders

  private val arrayBase =
    java.nio.file.Paths.get("target", "graft-arrays").toAbsolutePath.toString
  private def sfKey(dir: String) = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Build-once array-table fixtures derived deterministically from the
    * sf tables; built atomically (tmp + rename). */
  private def ensureArray(s: SparkSession, dir: String, name: String)
      (build: String => Unit): String = synchronized {
    val uri = s"$arrayBase/${sfKey(dir)}/$name"
    if (!ArrayTable.exists(s, uri)) {
      val fs = graft.storage.VFS(s)
      val tmp = uri + ".tmp"
      fs.delete(tmp)
      build(tmp)
      fs.delete(uri)
      fs.mkdirs(s"$arrayBase/${sfKey(dir)}")
      fs.rename(tmp, uri)
    }
    uri
  }

  /** Build-once persisted BM25 index over the documents table, keyed on
    * its layout version (`_params.json`, written last): a fixture built
    * by an older layout is rebuilt (buildIndex deletes the uri first). */
  private def bm25Index(s: SparkSession, dir: String): String = synchronized {
    val uri = s"$arrayBase/${sfKey(dir)}/bm25_index"
    if (!Search.isCurrentIndex(s, uri))
      Search.buildIndex(t(s, dir, "documents"), "doc_id", "text", uri)
    uri
  }

  /** Build-once IVF index over the embeddings table (marker:
    * centroids.json). */
  private def ivfIndex(s: SparkSession, dir: String): String = synchronized {
    val uri = s"$arrayBase/${sfKey(dir)}/ivf_index"
    if (!graft.storage.VFS(s).exists(s"$uri/centroids.json"))
      Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
        uri, nCentroids = 16, lloydSteps = 2)
    uri
  }

  /** Build-once labeled IVF index (label payload rides in the cell
    * files) for the filtered-search gate (marker: centroids.json). */
  private def ivfIndexLabeled(s: SparkSession, dir: String): String = synchronized {
    val uri = s"$arrayBase/${sfKey(dir)}/ivf_index_labeled"
    if (!graft.storage.VFS(s).exists(s"$uri/centroids.json"))
      Similarity.buildIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
        uri, nCentroids = 16, lloydSteps = 2, payload = Seq("label"))
    uri
  }

  /** Build-once persisted MinHash-LSH dedup index over the documents
    * table (marker: _params.json). */
  private[graft] def minhashIndex(s: SparkSession, dir: String): String = synchronized {
    val uri = s"$arrayBase/${sfKey(dir)}/minhash_index"
    val fs = graft.storage.VFS(s)
    if (!fs.exists(s"$uri/_params.json"))
      graft.ops.DedupIndex.build(t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", uri)
    uri
  }

  /** Multiset-mismatch count between two frames on `cols`, as a 1-row
    * frame (`mismatches` bigint): per-row-value counts on each side,
    * full-outer join on the value, summed absolute count differences.
    * VALUE-IDENTICAL to
    * `a.exceptAll(b).unionAll(b.exceptAll(a)).count()` on every input
    * (exceptAll keeps max(na-nb, 0) instances per value; both
    * directions sum to Σ|na−nb|) — but each arm's subtree appears ONCE
    * in the plan instead of twice, which matters for the ANN parity
    * gates whose cost is driver planning of two large TopK subtrees,
    * not data (profiled: ~75% of their wall is between-stage driver
    * time). Same one-job shape the r15 minhashGateParity hardening
    * established. */
  private def multisetMismatches(a: DataFrame, b: DataFrame,
      colNames: Seq[String]): DataFrame = {
    val ca = colNames.map(col)
    val ka = a.select(ca: _*).groupBy(ca: _*).agg(count(lit(1)).as("__na"))
    val kb = b.select(ca: _*).groupBy(ca: _*).agg(count(lit(1)).as("__nb"))
    // null-safe equality (<=>) makes the exceptAll equivalence exact on
    // EVERY input, null key values included (r20 ADVICE: a plain
    // using-columns join never matches null keys, so a row with a null
    // appearing n times on BOTH sides would count 2n mismatches instead
    // of 0 — exceptAll treats nulls as equal). Today's gate inputs are
    // null-free, so results are unchanged; the claim is now exact.
    val cond = colNames.map(c => ka(c) <=> kb(c)).reduce(_ && _)
    ka.join(kb, cond, "full_outer")
      .agg(coalesce(sum(abs(coalesce(col("__na"), lit(0L)) -
        coalesce(col("__nb"), lit(0L)))), lit(0L)).as("mismatches"))
  }

  // --- the minhash_index_gate pipeline, staged ------------------------
  // Split into stages so each can be timed on its own; the per-stage
  // profile is in BASELINE.md ("Round 14: minhash_index_gate
  // regression").

  /** (corpus docs, planted near-dup batch slice, full probe batch). */
  private[graft] def minhashGateInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + DupOff)
      .withColumn("text", concat(col("text"), lit(" xyzzy")))
    val fresh = s.range(5).select((col("id") + 2L * DupOff).as("doc_id"),
      concat(lit("totally fresh unseen content block qwertyuiop "),
        col("id")).as("text"))
    (docs, planted, planted.unionByName(fresh))
  }

  /** Index probe with exact verify (batch-scale; eager). */
  private[graft] def minhashGateProbe(batch: DataFrame, docs: DataFrame,
      uri: String): DataFrame =
    graft.ops.DedupIndex.probe(batch, "doc_id", "text", uri,
      threshold = 0.6, verifyWith = Some(docs)).localCheckpoint(true)

  /** One-shot LSH over corpus ∪ batch, cross-side pairs only (eager).
    * checkpoint: this is the gate's single most expensive job, and its
    * lineage feeds BOTH the union-distinct parity count and the size
    * count — uncheckpointed it would run twice (measured ~1.4 s each
    * at sf0.1, the bulk of the r13 bench regression on this key). */
  private[graft] def minhashGateOneShot(docs: DataFrame,
      batch: DataFrame): DataFrame =
    Dedup.minhashNearDups(docs.unionByName(batch), "doc_id", "text",
        threshold = 0.6)
      .filter((col("a") >= DupOff) =!= (col("b") >= DupOff))
      .select(greatest(col("a"), col("b")).as("id"),
        least(col("a"), col("b")).as("match_id"))
      .localCheckpoint(true)

  /** Gate verdicts: (planted_found, fresh_clean, paths_agree). */
  private[graft] def minhashGateParity(probed: DataFrame, oneShot: DataFrame,
      planted: DataFrame): (Boolean, Boolean, Boolean) = {
    // MULTISET equality in ONE job: per-pair counts on each side,
    // full-outer on the pair key, any row with unequal (null ≠ n)
    // counts is a disagreement. Equivalent to exceptAll both ways —
    // still duplicate-row-safe if a future caller passes dup rows —
    // but one shuffle instead of 4 driver jobs + a checkpoint (the r15
    // parity hardening was ~1 s of this gate's bench cost). The four
    // verdict actions read only checkpointed frames — overlapped
    // (§2.6).
    val spark = probed.sparkSession
    val pc = probed.groupBy("id", "match_id").agg(count(lit(1)).as("__np"))
    val oc = oneShot.groupBy("id", "match_id").agg(count(lit(1)).as("__no"))
    val vs = graft.core.Par.jobs(spark)(
      () => planted.count(),
      () => probed.filter(col("match_id") === col("id") - DupOff).count(),
      () => probed.filter(col("id") >= 2L * DupOff).count(),
      () => if (pc.join(oc, Seq("id", "match_id"), "full_outer")
        .filter(col("__np").isNull || col("__no").isNull ||
          col("__np") =!= col("__no"))
        .isEmpty) 1L else 0L)
    val (nPlanted, selfHits, freshHits, agree) = (vs(0), vs(1), vs(2), vs(3) == 1L)
    (selfHits == nPlanted && nPlanted > 0, freshHits == 0L, agree)
  }

  private val shipCut = "1998-01-01 00:00:00"

  /** two-fragment lineitem array: ts=1000 (shipdate < 1995), ts=2000 (rest) */
  private def ttLineitem(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "tt_lineitem") { tmp =>
      val li = t(s, dir, "lineitem")
      // NTZ literal: l_shipdate reads as TimestampNTZ (naive ms parquet)
      val cut = lit(java.time.LocalDateTime.parse(shipCut.replace(' ', 'T')))
      // synthetic lineitem is not unique on (orderkey, linenumber):
      // allows_duplicates keeps coordinate-duplicate cells (reference:
      // tiledb/array_schema.py:210-218)
      ArrayTable.ingest(s, li.filter(col("l_shipdate") < cut), tmp,
        Seq("l_orderkey", "l_linenumber"), tsOpt = Some(1000L), overwrite = true,
        allowsDuplicates = true)
      ArrayTable.write(s, li.filter(col("l_shipdate") >= cut), tmp, Some(2000L))
    }

  /** Encrypted supplier array for the `encrypted_read` oracle: a fixed
    * 32-byte oracle-fixture key (NOT a secret — the gate proves the
    * mechanism, the spec proves key hygiene) registered on every call
    * so a fresh Verify session can both build and read. */
  private def encSupplier(s: SparkSession, dir: String): String = {
    // enable() REPLACES the registry, so merge the oracle key into any
    // keys the hosting session already registered — running this
    // oracle must never drop a user's own encryption keys
    graft.storage.Encryption.enable(s,
      graft.storage.Encryption.sessionKeys(s.sparkContext.hadoopConfiguration) +
        ("graft-oracle" ->
          "graft-oracle-test-key-0123456789".getBytes(
            java.nio.charset.StandardCharsets.UTF_8)))
    ensureArray(s, dir, "enc_supplier") { tmp =>
      ArrayTable.ingest(s, t(s, dir, "supplier"), tmp, Seq("s_suppkey"),
        tsOpt = Some(1000L), overwrite = true,
        encryptionKey = Some("graft-oracle"))
    }
  }

  /** 1-d dense-style orders array (fill 0.0) for dense-read completion */
  private def denseOrders(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "dense_orders") { tmp =>
      val schema = ArraySchema(
        dims = Seq(Dim("o_orderkey", "int64", Some(("1", "2000000")))),
        attrs = Seq(Attr("o_totalprice", "float64", fill = Some("0"))),
        sparse = false)
      ArrayTable.create(s, tmp, schema)
      ArrayTable.write(s,
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"), tmp, Some(1000L))
    }

  /** orders array exercising the full MVCC lifecycle: two fragments
    * (ts 1000/2000, every 10th order re-priced to 0), a conditional
    * delete of 'F' orders (ts 3000), then consolidate + vacuum down to
    * ONE fragment with tombstones purged. */
  private def consolOrders(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "consol_orders") { tmp =>
      val o = t(s, dir, "orders")
      ArrayTable.ingest(s, o, tmp, Seq("o_orderkey"), tsOpt = Some(1000L), overwrite = true)
      ArrayTable.write(s,
        o.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(0.0)),
        tmp, Some(2000L))
      ArrayTable.delete(s, tmp, "o_orderstatus == 'F'", Some(3000L))
      ArrayTable.consolidate(s, tmp)
      ArrayTable.vacuum(s, tmp)
    }

  /** SQL-catalog orders table: registers a [[graft.sources.GraftCatalog]]
    * for this sf dir and builds `<cat>.sf.orders` once via pure SQL DDL +
    * two INSERTs (two MVCC fragments; SQL time travel over them is
    * covered by `GraftCatalogSpec`). Returns the catalog name. */
  private def sqlCatalog(s: SparkSession, dir: String): String = synchronized {
    val cat = "gsql_" + sfKey(dir).replace('.', '_')
    val root = s"$arrayBase/${sfKey(dir)}/catalog_root"
    // conf must be set before the catalog is first loaded; idempotent after
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    if (!ArrayTable.exists(s, s"$root/sf/orders")) {
      graft.storage.VFS(s).mkdirs(root)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.sf")
      s.sql(s"DROP TABLE IF EXISTS $cat.sf.orders")
      s.sql(s"CREATE TABLE $cat.sf.orders (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
        "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey')")
      t(s, dir, "orders").createOrReplaceTempView("catalog_src_orders")
      s.sql(s"INSERT INTO $cat.sf.orders SELECT * FROM catalog_src_orders " +
        "WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $cat.sf.orders SELECT * FROM catalog_src_orders " +
        "WHERE o_orderkey % 2 = 1")
    }
    cat
  }

  /** Continuous near-dedup end-to-end fixture: an empty index + empty
    * sink array, then two micro-batches through
    * [[EventStreams.nearDedupStream]] — (0) the documents table (which
    * carries planted INTERNAL near-dups), (1) " xyzzy" edits of every
    * batch-0 survivor (id + DupOff) plus 5 genuinely fresh docs
    * (id >= 3*DupOff). The sink's per-batch MVCC fragments (ts =
    * batchId) let the gate reconstruct what survived each batch. */
  private def nearDedupedDocs(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "neardedup_docs") { tmp =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val indexUri = s"$arrayBase/${sfKey(dir)}/neardedup_index"
      graft.storage.VFS(s).delete(indexUri)
      graft.ops.DedupIndex.build(docs.limit(0), "doc_id", "text", indexUri)
      ArrayTable.create(s, tmp,
        ArraySchema.infer(docs.schema, Seq("doc_id")).copy(allowsDuplicates = true))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = EventStreams.nearDedupStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", indexUri, tmp,
        s"$arrayBase/${sfKey(dir)}/neardedup_ckpt_${System.nanoTime()}",
        threshold = 0.6)
      try {
        in.addData(docs.as[(Long, String)].collect().toSeq)
        q.processAllAvailable()
        val kept0 = ArrayTable.read(s, tmp, at = Some((0L, 0L)))
          .as[(Long, String)].collect().toSeq
        val edits = kept0.map { case (id, text) => (id + DupOff, text + " xyzzy") }
        // fresh docs must be distinct from EVERYTHING, including each
        // other: deterministic pseudo-word bodies (pairwise Jaccard ~0)
        val fresh = (0 until 5).map(i => (3L * DupOff + i,
          (0 until 24).map { j =>
            java.lang.Long.toString(((i + 7L) * 2654435761L + j * 40503L) & 0xffffffL, 26)
          }.mkString(" ")))
        in.addData(edits ++ fresh)
        q.processAllAvailable()
      } finally q.stop()
    }

  /** embeddings corpus streamed through [[EventStreams.semanticDedupStream]]:
    * base corpus seeds the IVF index and the sink; a batch of planted
    * exact duplicates (vec_id + DupOff) must drop via the index, a
    * batch of 5 fresh deterministic vectors must survive. */
  private def semDedupedVecs(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "semdedup_vecs") { tmp =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val ivfUri = s"$arrayBase/${sfKey(dir)}/semdedup_ivf"
      graft.storage.VFS(s).delete(ivfUri)
      graft.ops.Similarity.buildIvfIndex(e, "vec_id", "embedding", ivfUri,
        nCentroids = 8, lloydSteps = 1)
      ArrayTable.create(s, tmp,
        ArraySchema.infer(e.schema, Seq("vec_id")).copy(allowsDuplicates = true))
      ArrayTable.ingest(s, e, tmp, Seq("vec_id"), tsOpt = Some(999999999L))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = MemoryStream[(Long, Array[Float])]
      val q = EventStreams.semanticDedupStream(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        ivfUri, tmp,
        s"$arrayBase/${sfKey(dir)}/semdedup_ckpt_${System.nanoTime()}",
        minCosine = 0.999, nprobe = 8)
      try {
        in.addData(e.as[(Long, Array[Float])].collect()
          .map { case (id, v) => (id + DupOff, v) }.toSeq)
        q.processAllAvailable()
        val dim = e.head().getAs[scala.collection.Seq[Float]]("embedding").size
        val fresh = (0 until 5).map(i => (2L * DupOff + i,
          Array.tabulate(dim)(j => math.sin((1e6 + i * 37) + j * 7.0).toFloat)))
        in.addData(fresh)
        q.processAllAvailable()
      } finally q.stop()
    }

  /** region array evolved with an added attribute (fill 42) */
  private def evolvedRegion(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "evolved_region") { tmp =>
      ArrayTable.ingest(s, t(s, dir, "region"), tmp, Seq("r_regionkey"),
        tsOpt = Some(1000L), overwrite = true)
      ArrayTable.addAttr(s, tmp, Attr("bonus", "int64", fill = Some("42")))
    }

  /** events streamed through the array sink — file-source micro-batches
    * through `EventStreams.writeArrayStream` (foreachBatch -> one MVCC
    * fragment per batch, idempotent under replay), then a plain batch
    * read over the committed fragments. Exercises the streaming ingest
    * path end-to-end against a SQL oracle. */
  private def streamedEvents(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "streamed_events") { tmp =>
      val src = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      // append-only stream: allows_duplicates=true declares that no
      // cross-fragment shadowing is ever needed, so reads take the
      // single multi-path fast scan instead of a window dedup — the
      // difference between O(rows) and O(shuffle) per read, since
      // randomly-split micro-batches always have overlapping MBRs
      ArrayTable.create(s, tmp,
        graft.core.ArraySchema.infer(src.schema, Seq("event_id"))
          .copy(allowsDuplicates = true))
      val fs = graft.storage.VFS(s)
      val staged = tmp + ".src"
      val ckpt = tmp + ".ckpt"
      src.repartition(4).write.mode("overwrite").parquet(staged)
      val q = graft.streaming.EventStreams.writeArrayStream(
        s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged),
        tmp, ckpt)
      try q.processAllAvailable() finally q.stop()
      require(ArrayTable.fragments(s, tmp).size > 1,
        "streaming ingest should commit one fragment per micro-batch")
      fs.delete(staged); fs.delete(ckpt)
    }

  /** Streaming-dedup fixture: the events table DOUBLED across separate
    * staged files (so duplicates cross micro-batch boundaries), run
    * through [[graft.streaming.EventStreams.dedupStream]] state into
    * the array sink. The resulting array must equal DISTINCT(source). */
  private def dedupedEvents(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "deduped_events") { tmp =>
      val src = events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      ArrayTable.create(s, tmp,
        graft.core.ArraySchema.infer(src.drop("ts").schema, Seq("event_id"))
          .copy(allowsDuplicates = true))
      val fs = graft.storage.VFS(s)
      val staged = tmp + ".src"
      val ckpt = tmp + ".ckpt"
      src.repartition(2).write.mode("overwrite").parquet(staged)
      src.repartition(3).write.mode("append").parquet(staged)
      val deduped = graft.streaming.EventStreams.dedupStream(
        s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "2").parquet(staged),
        keyCols = Seq("event_id"), watermark = "1 hour")
        .drop("ts") // array carries the dedup payload, not event time
      val q = graft.streaming.EventStreams.writeArrayStream(deduped, tmp, ckpt)
      try q.processAllAvailable() finally q.stop()
      fs.delete(staged); fs.delete(ckpt)
    }

  /** customer array with an ORDERED balance-class enumeration whose
    * index order (LOW < MID < HIGH) differs from lexicographic order —
    * the fixture for index-ordered QueryCondition comparisons
    * (reference: tiledb/query_condition.py:283-295). */
  private def levelCustomer(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "level_customer") { tmp =>
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_acctbal") < 0, "LOW")
          .when(col("c_acctbal") < 5000, "MID")
          .otherwise("HIGH").as("level"))
      ArrayTable.create(s, tmp, graft.core.ArraySchema(
        dims = Seq(graft.core.Dim("c_custkey", "int64")),
        attrs = Seq(graft.core.Attr("level", "utf8", enumLabel = Some("levels"))),
        enums = Seq(graft.core.Enumeration("levels",
          Seq("LOW", "MID", "HIGH"), ordered = true))))
      ArrayTable.write(s, c, tmp, Some(1000L))
    }

  /** evolved region migrated in place: `upgrade_version` rewrites the
    * stale pre-evolve fragment under the current schema version with the
    * fill value baked in, so every fragment shares one version and reads
    * skip per-fragment alignment (reference: tiledb/array.py:794-803). */
  private def upgradedRegion(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "upgraded_region") { tmp =>
      ArrayTable.ingest(s, t(s, dir, "region"), tmp, Seq("r_regionkey"),
        tsOpt = Some(1000L), overwrite = true)
      ArrayTable.addAttr(s, tmp, Attr("bonus", "int64", fill = Some("42")))
      val migrated = ArrayTable.upgradeVersion(s, tmp)
      require(migrated.nonEmpty, "upgrade_version found no stale fragment")
      val latest = ArrayTable.schemaOf(s, tmp).version
      require(ArrayTable.fragments(s, tmp).forall(_.schemaVersion == latest),
        "upgrade_version left a stale fragment behind")
    }

  /** customer array ingested with categorical->enum auto-inference:
    * c_mktsegment (5 values) becomes a dictionary-encoded enumeration;
    * c_name (all-distinct) stays a plain string. */
  private def enumCustomer(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "enum_customer") { tmp =>
      ArrayTable.ingest(s, t(s, dir, "customer"), tmp, Seq("c_custkey"),
        tsOpt = Some(1000L), overwrite = true, inferEnums = true,
        maxEnumValues = 64) // c_name has >=150 distinct at every sf
      val schema = ArrayTable.schemaOf(s, tmp)
      require(schema.attr("c_mktsegment").enumLabel.isDefined,
        "enum inference missed c_mktsegment")
      require(schema.attr("c_name").enumLabel.isEmpty,
        "enum inference must not dictionary-encode an all-distinct column")
    }

  /** lineitem array with a complex128-typed attribute (fixed 2-cell
    * multi-value cells): (l_extendedprice, l_discount) packed per cell. */
  private def mvLineitem(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "mv_lineitem") { tmp =>
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        array(col("l_extendedprice"), col("l_discount")).as("price_pair"))
      val schema = ArraySchema(
        dims = Seq(Dim("l_orderkey", "int64"), Dim("l_linenumber", "int32")),
        attrs = Seq(Attr("price_pair", "complex128")),
        allowsDuplicates = true)
      ArrayTable.create(s, tmp, schema)
      ArrayTable.write(s, li, tmp, Some(1000L))
    }

  /** orders array with a conditional-delete tombstone at ts=1500 */
  private def delOrders(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "del_orders") { tmp =>
      ArrayTable.ingest(s, t(s, dir, "orders"), tmp, Seq("o_orderkey"),
        tsOpt = Some(1000L), overwrite = true)
      ArrayTable.delete(s, tmp, "o_orderstatus == 'F'", Some(1500L))
    }

  /** orders array where a second fragment (ts=2000) shadows every 10th
    * order with o_totalprice = 0.0 */
  private def upsertOrders(s: SparkSession, dir: String): String =
    ensureArray(s, dir, "upsert_orders") { tmp =>
      val o = t(s, dir, "orders")
      ArrayTable.ingest(s, o, tmp, Seq("o_orderkey"), tsOpt = Some(1000L), overwrite = true)
      ArrayTable.write(s,
        o.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(0.0)),
        tmp, Some(2000L))
    }

  // --------------------------------------------------------------- entry

  /** Flagship: range slice + condition + exact aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_slice_cond")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------- queries

  /** (clicks, purchases) sides shared by the asof_* queries */
  private def asofSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        col("ts").cast(TimestampNTZType).as("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast(TimestampNTZType).as("ts"),
        col("value"))
    (clicks, purchases)
  }

  private def maybePrice(df: DataFrame): DataFrame =
    df.withColumn("maybe_price",
      when(col("l_discount") > 0.05, lit(null)).otherwise(col("l_extendedprice")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / slicing / point lookup (SURVEY §2.2) ---
    "scan_full" -> ((s, d) => t(s, d, "lineitem")),
    "slice_range" -> ((s, d) => MultiIndex(t(s, d, "lineitem"), Map(
      "l_orderkey" -> RangeIncl(Some(1000L), Some(2000L)),
      "l_linenumber" -> RangeIncl(Some(1), Some(3))))),
    "multi_index_points" -> ((s, d) => MultiIndex(t(s, d, "lineitem"), Map(
      "l_orderkey" -> Points(Seq(42L, 77L, 1001L, 1500L, 2222L, 3000L, 4999L))))),
    "multi_index_ranges" -> ((s, d) => MultiIndex(t(s, d, "lineitem"), Map(
      "l_orderkey" -> Ranges(Seq(
        RangeIncl(Some(1L), Some(100L)),
        RangeIncl(Some(5000L), Some(5100L)),
        RangeIncl(Some(9000L), Some(9500L))))))),
    "proj_attrs" -> ((s, d) => t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")),
    // datetime-typed dimension slicing (inclusive, NTZ wall-clock)
    "slice_time_dim" -> ((s, d) => MultiIndex(t(s, d, "lineitem"), Map(
      "l_shipdate" -> RangeIncl(
        Some(java.time.LocalDateTime.parse("1996-01-01T00:00:00")),
        Some(java.time.LocalDateTime.parse("1996-06-30T23:59:59")))))),
    // string-typed dimension slicing (binary collation both engines)
    "slice_string_dim" -> ((s, d) => MultiIndex(t(s, d, "customer"), Map(
      "c_name" -> RangeIncl(Some("Customer#000000100"), Some("Customer#000000299"))))),

    // --- query-condition grammar (SURVEY §2.4) ---
    "qc_compare" -> ((s, d) => t(s, d, "lineitem")
      .filter(QueryCondition.compile("l_quantity < 24.0"))),
    "qc_and_or" -> ((s, d) => t(s, d, "lineitem")
      .filter(QueryCondition.compile(
        "(l_quantity < 10.0 or l_quantity > 45.0) and l_discount > 0.05"))),
    "qc_in" -> ((s, d) => t(s, d, "lineitem")
      .filter(QueryCondition.compile("l_returnflag in ['A', 'R']"))),
    "qc_not" -> ((s, d) => t(s, d, "lineitem")
      .filter(QueryCondition.compile("not (l_linestatus == 'O')"))),
    "qc_chain" -> ((s, d) => t(s, d, "lineitem")
      .filter(QueryCondition.compile("5.0 < l_quantity <= 10.0"))),
    "qc_null" -> ((s, d) => maybePrice(t(s, d, "lineitem"))
      .filter(QueryCondition.compile("maybe_price == None"))
      .select("l_orderkey", "l_linenumber", "maybe_price")),
    "qc_dense_fill" -> ((s, d) => {
      // dense semantics: shape kept, non-matching attrs -> fill
      val df = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      val schema = ArraySchema(
        dims = Seq(Dim("l_orderkey", "int64"), Dim("l_linenumber", "int32")),
        attrs = Seq(Attr("l_quantity", "float64", fill = Some("-1"))))
      QueryCondition.denseApply(df, "l_quantity < 24.0", schema)
    }),

    // --- aggregates (SURVEY §2.5) ---
    "agg_sum" -> ((s, d) => Aggregates.agg(t(s, d, "lineitem"),
      Map("l_orderkey" -> Seq("sum")))),
    "agg_sum_price" -> ((s, d) => t(s, d, "lineitem")
      .agg(dsum(col("l_extendedprice"), "sum_price"))),
    "agg_min_max" -> ((s, d) => Aggregates.agg(t(s, d, "lineitem"),
      Map("l_extendedprice" -> Seq("min", "max")))),
    "agg_mean" -> ((s, d) => t(s, d, "lineitem").agg(
      (sum(col("l_quantity").cast(DecimalType(25, 2))).cast(DoubleType) / count(lit(1)))
        .as("mean_qty"))),
    "agg_count" -> ((s, d) => Aggregates.agg(t(s, d, "lineitem"),
      Map("l_orderkey" -> Seq("count")))),
    "agg_null_count" -> ((s, d) => Aggregates.agg(maybePrice(t(s, d, "lineitem")),
      Map("maybe_price" -> Seq("null_count")))),
    "agg_slice_cond" -> ((s, d) => {
      val sliced = MultiIndex(t(s, d, "lineitem"),
        Map("l_orderkey" -> RangeIncl(Some(500L), Some(4500L))))
      sliced.filter(QueryCondition.compile("l_quantity < 24.0"))
        .agg(dsum(col("l_extendedprice"), "sum_price"), count(lit(1)).as("n"))
    }),
    "nonempty_domain" -> ((s, d) => MultiIndex.nonemptyDomain(
      t(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber"))),
    "unique_dim_values" -> ((s, d) => MultiIndex.uniqueDimValues(
      t(s, d, "lineitem"), "l_orderkey")),

    // --- enumeration decode = dictionary join (SURVEY §1.2) ---
    "enum_decode" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name").as("c_nation"))
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select("c_custkey", "c_nation")
    }),

    // --- dense fill-value completion (SURVEY §7.3.1) ---
    "dense_fill" -> ((s, d) => {
      val grid = s.range(1, 2001).select(col("id").as("coord"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      grid.join(o, grid("coord") === o("o_orderkey"), "left")
        .select(col("coord"), coalesce(col("o_totalprice"), lit(0.0)).as("val"))
    }),

    // --- MVCC: time travel / deletes / shadowing (SURVEY §1.3, §2.6) ---
    "time_travel" -> ((s, d) =>
      ArrayTable.read(s, ttLineitem(s, d), at = Some((0L, 1500L)))),
    "delete_cond" -> ((s, d) => ArrayTable.read(s, delOrders(s, d))),
    // CDC snapshot diff, append-only window: the manifest fast path
    // (allowsDuplicates array — no shadowing possible) serves the diff
    // from the delta fragment alone; DuckDB = the appended slice
    "snapshot_diff" -> ((s, d) =>
      ArrayTable.diff(s, ttLineitem(s, d), (0L, 1500L), (0L, 2500L))),
    // CDC snapshot diff across an upsert: shadowed cells surface as
    // their delete/insert pair (general two-snapshot anti-diff path)
    "snapshot_diff_upsert" -> ((s, d) =>
      ArrayTable.diff(s, upsertOrders(s, d), (0L, 1500L), (0L, 2500L))),
    "upsert_shadow" -> ((s, d) => ArrayTable.read(s, upsertOrders(s, d))),
    "array_roundtrip" -> ((s, d) =>
      // full write -> read fidelity through the fragment format
      ArrayTable.read(s, ttLineitem(s, d))),
    // at-rest encryption end to end: every file of the array (parquet
    // data + footer, manifests, schema) is AES-256-GCM ciphertext on
    // disk, and the keyed read must still hash-match the plaintext
    // oracle exactly. The fixed key here is oracle-fixture material,
    // not a secret.
    "encrypted_read" -> ((s, d) => ArrayTable.read(s, encSupplier(s, d))),
    "consolidated_read" -> ((s, d) => ArrayTable.read(s, consolOrders(s, d))),
    // custom data source: read + time travel + pushdown through format("graft")
    "source_read" -> ((s, d) => s.read.format("graft")
      .option("t0", "0").option("t1", "1500")
      .load(ttLineitem(s, d))
      .filter(col("l_quantity") < 24.0)),
    // SQL catalog end-to-end: CREATE TABLE + INSERT INTO (two MVCC
    // fragments) + SELECT, all through SQL over the DSv2 TableCatalog;
    // the WHERE hits the dim so fragment MBR pruning drives the scan
    "catalog_sql" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      s.sql(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $cat.sf.orders " +
        "WHERE o_orderkey <= 20000 AND o_totalprice > 100000.0")
    }),
    // INSERT OVERWRITE preserves pre-insert MVCC history: the
    // overwrite is a whole-table truncation log entry + one new
    // fragment, so the current read sees only the new rows while
    // VERSION AS OF the first insert's timestamp still resolves the
    // original data — both value-checked against DuckDB closed forms
    "catalog_overwrite" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_ovw"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_ovw (o_orderkey BIGINT, " +
          "o_totalprice DOUBLE) TBLPROPERTIES ('dims'='o_orderkey')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_ovw")
        s.sql(s"INSERT INTO $cat.sf.orders_ovw SELECT o_orderkey, o_totalprice " +
          "FROM catalog_src_orders_ovw WHERE o_orderkey <= 20000")
        // the 'pre' phase time-travels to the first insert's fragment
        // ts — make sure the OVERWRITE's truncation entry lands at a
        // strictly LATER millisecond, or VERSION AS OF that ts would
        // include the truncation via the seq tiebreak and return empty
        val t1 = ArrayTable.fragments(s, uri).map(_.ts).max
        while (System.currentTimeMillis() <= t1) Thread.sleep(1)
        s.sql(s"INSERT OVERWRITE $cat.sf.orders_ovw SELECT o_orderkey, " +
          "o_totalprice + 1.0 FROM catalog_src_orders_ovw WHERE o_orderkey > 20000")
      } }
      val ts0 = ArrayTable.fragments(s, uri).map(_.ts).min
      s.sql(s"SELECT o_orderkey, o_totalprice, 'post' AS phase FROM $cat.sf.orders_ovw")
        .unionByName(s.sql(s"SELECT o_orderkey, o_totalprice, 'pre' AS phase " +
          s"FROM $cat.sf.orders_ovw VERSION AS OF '$ts0'"))
    }),
    // SQL DELETE FROM: predicates translate to the same QueryCondition
    // tombstone an API delete writes (metadata-only, no rewrite); the
    // read-back must match DuckDB's surviving-row set
    "catalog_delete" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_del"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_del (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_del")
        s.sql(s"INSERT INTO $cat.sf.orders_del SELECT * FROM catalog_src_orders_del")
        s.sql(s"DELETE FROM $cat.sf.orders_del " +
          "WHERE o_orderstatus = 'F' OR o_totalprice < 1000.0")
      } }
      s.sql(s"SELECT * FROM $cat.sf.orders_del")
    }),
    // SQL UPDATE as merge-on-read: one shadow fragment, read-back must
    // match DuckDB applying the same assignment
    "catalog_update" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_upd"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_upd (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_upd")
        s.sql(s"INSERT INTO $cat.sf.orders_upd SELECT * FROM catalog_src_orders_upd")
        s.sql(s"UPDATE $cat.sf.orders_upd SET o_totalprice = 0.0, " +
          "o_orderpriority = 'RE-PRICED' WHERE o_orderkey % 10 = 0")
      } }
      s.sql(s"SELECT * FROM $cat.sf.orders_upd")
    }),
    // SQL MERGE INTO (the CDC upsert): matched updates + unmatched
    // inserts land as one shadow fragment; read-back must match DuckDB
    // applying the same upsert relationally
    "catalog_merge" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_mrg"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_mrg (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_mrg")
        s.sql(s"INSERT INTO $cat.sf.orders_mrg SELECT * FROM catalog_src_orders_mrg")
        s.sql(("MERGE INTO %s.sf.orders_mrg tgt USING (" +
          "SELECT o_orderkey AS k, o_totalprice + 1000.0 AS p " +
          "FROM catalog_src_orders_mrg WHERE o_orderkey %% 5 = 0 " +
          "UNION ALL SELECT o_orderkey + 100000000, 42.0 " +
          "FROM catalog_src_orders_mrg WHERE o_orderkey %% 1000 = 0) src " +
          "ON tgt.o_orderkey = src.k " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = src.p " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, " +
          "o_totalprice, o_orderdate, o_orderpriority) VALUES (src.k, 0, 'N', " +
          "src.p, CAST(NULL AS TIMESTAMP_NTZ), 'NEW')").format(cat))
      } }
      s.sql(s"SELECT * FROM $cat.sf.orders_mrg")
    }),
    // Manifest-served SQL aggregates: on a metadata-clean catalog table
    // (allowsDuplicates, one fragment) an ungrouped COUNT/MIN/MAX
    // collapses to one driver-local row from fragment manifests — the
    // values must match DuckDB aggregating the actual rows
    "catalog_agg_meta" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_meta"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_meta (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey', " +
          "'allowsDuplicates'='true')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_meta")
        s.sql(s"INSERT INTO $cat.sf.orders_meta SELECT * FROM catalog_src_orders_meta")
      } }
      s.sql(s"SELECT count(*) AS n_rows, min(o_orderkey) AS min_key, " +
        s"max(o_orderkey) AS max_key FROM $cat.sf.orders_meta")
    }),
    // SQL maintenance procedures: CALL consolidate + vacuum collapse
    // two fragments to one; the read-back must still be the full table
    "catalog_consolidate" -> ((s, d) => {
      val cat = sqlCatalog(s, d)
      val uri = s"$arrayBase/${sfKey(d)}/catalog_root/sf/orders_cons"
      synchronized { if (!ArrayTable.exists(s, uri)) {
        s.sql(s"CREATE TABLE $cat.sf.orders_cons (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderpriority STRING) TBLPROPERTIES ('dims'='o_orderkey')")
        t(s, d, "orders").createOrReplaceTempView("catalog_src_orders_cons")
        s.sql(s"INSERT INTO $cat.sf.orders_cons SELECT * FROM catalog_src_orders_cons " +
          "WHERE o_orderkey % 2 = 0")
        s.sql(s"INSERT INTO $cat.sf.orders_cons SELECT * FROM catalog_src_orders_cons " +
          "WHERE o_orderkey % 2 = 1")
        s.sql(s"CALL $cat.system.consolidate('sf.orders_cons')")
        s.sql(s"CALL $cat.system.vacuum('sf.orders_cons')")
        require(ArrayTable.fragments(s, uri).size == 1,
          "consolidate must leave one fragment")
      } }
      s.sql(s"SELECT * FROM $cat.sf.orders_cons")
    }),
    "evolved_read" -> ((s, d) => ArrayTable.read(s, evolvedRegion(s, d))),
    // upgrade_version migration: post-migration read must equal the
    // evolved read (fill baked into the rewritten fragment)
    "upgraded_read" -> ((s, d) => ArrayTable.read(s, upgradedRegion(s, d))),
    // streaming ingest end-to-end: micro-batches -> MVCC fragments -> read
    "stream_ingest_read" -> ((s, d) => ArrayTable.read(s, streamedEvents(s, d))),
    // streaming dedup end-to-end: a DOUBLED event stream (every event
    // in two different micro-batches) passes through
    // dropDuplicatesWithinWatermark state into the array sink; the
    // read-back must hash-match plain DISTINCT over the source
    "stream_dedup_read" -> ((s, d) => ArrayTable.read(s, dedupedEvents(s, d))),
    // Continuous NEAR-dedup (probe persisted LSH index per micro-batch,
    // append survivors): the final corpus must be near-dup-free at the
    // stream's threshold, every batch-1 edit of a batch-0 survivor must
    // have been dropped via the index, and the 5 fresh docs kept.
    "stream_neardedup_gate" -> ((s, d) => {
      val kept = ArrayTable.read(s, nearDedupedDocs(s, d)).localCheckpoint(true)
      val pairs = Dedup.minhashNearDups(kept, "doc_id", "text", threshold = 0.6).count()
      val editsKept = kept.filter(col("doc_id") >= DupOff &&
        col("doc_id") < 3L * DupOff).count()
      val freshKept = kept.filter(col("doc_id") >= 3L * DupOff).count()
      s.range(1).select(
        lit(pairs == 0L).as("dedup_complete"),
        lit(editsKept == 0L).as("edits_dropped"),
        lit(freshKept == 5L).as("fresh_kept"))
    }),
    // streaming semantic dedup gate: every planted exact duplicate
    // dropped via the IVF index, every fresh vector kept, corpus size
    // conserved (base + 5 fresh) — DuckDB recomputes the exact count
    "stream_semantic_gate" -> ((s, d) => {
      val kept = ArrayTable.read(s, semDedupedVecs(s, d)).localCheckpoint(true)
      val dupsKept = kept.filter(col("vec_id") >= DupOff &&
        col("vec_id") < 2L * DupOff).count()
      val freshKept = kept.filter(col("vec_id") >= 2L * DupOff).count()
      s.range(1).select(
        lit(kept.count()).as("n_rows"),
        lit(dupsKept == 0L).as("dups_dropped"),
        lit(freshKept == 5L).as("fresh_kept"))
    }),
    // categorical->enum inference round-trip: codes on disk, decoded
    // values on read must hash-match the plain source table
    "enum_infer_roundtrip" -> ((s, d) => ArrayTable.read(s, enumCustomer(s, d))),
    // ordered-enum inequality: index order (LOW<MID<HIGH), NOT
    // lexicographic — a lex compare would wrongly keep the HIGH rows
    // ('HIGH' <= 'MID' lexicographically) and hash-mismatch the oracle
    "qc_enum_order" -> ((s, d) => {
      val uri = levelCustomer(s, d)
      val schema = ArrayTable.schemaOf(s, uri)
      ArrayTable.read(s, uri)
        .filter(QueryCondition.compile("level <= 'MID'", Some(schema)))
    }),
    // fixed 2-cell (complex128) multi-value cells round-trip; unpacked
    // to scalar re/im columns for the driver-side compare
    "multivalue_cells" -> ((s, d) => ArrayTable.read(s, mvLineitem(s, d))
      .select(col("l_orderkey"), col("l_linenumber"),
        element_at(col("price_pair"), 1).as("re"),
        element_at(col("price_pair"), 2).as("im"))),

    // --- label-based slicing (two-phase resolution, SURVEY §2.2) ---
    "label_slice" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val labels = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
      MultiIndex.labelIndex(li, labels, "o_orderdate", "l_orderkey",
        RangeIncl(
          Some(java.time.LocalDateTime.parse("1995-06-01T00:00:00")),
          Some(java.time.LocalDateTime.parse("1995-12-31T23:59:59"))))
    }),

    // --- dense-read completion through the array-table ---
    "dense_read_array" -> ((s, d) =>
      graft.storage.Dense.read(s, denseOrders(s, d),
        box = Map("o_orderkey" -> (1L, 2000L)))),

    // Negative-step dense slice (reference positional v[::step]
    // semantics): subarray [300, 1499] from the slice bounds, step -7
    // anchored at coord 1499 walking down -> 1499, 1492, ..., 302.
    // Fill completion still applies at every stepped grid coordinate.
    "dense_read_revstep" -> ((s, d) =>
      graft.storage.Dense.slice(s, denseOrders(s, d),
        Map("o_orderkey" -> MultiIndex.DenseSlice(Some(300L), Some(1500L), -7L)))),

    // Manifest-only aggregate pushdown under the oracle: a pure count
    // over the full selection is answered from fragment manifests (zero
    // data read — the 100 TB "how many cells" query); DuckDB recounts
    // the real rows, so any manifest drift fails the hash check.
    "agg_count_meta" -> ((s, d) =>
      graft.query.ArrayQuery(s, ttLineitem(s, d))
        .agg(Map("l_quantity" -> Seq("count")))
        .df),

    // Manifest-only dim extremes: min/max of a dim column come from the
    // fragment MBRs (plus the manifest count), zero data read; DuckDB
    // recomputes them from the real rows.
    "agg_minmax_meta" -> ((s, d) =>
      graft.query.ArrayQuery(s, ttLineitem(s, d))
        .agg(Map("l_orderkey" -> Seq("min", "max", "count")))
        .df),

    // --- query builder through the correctness gate ---
    "agg_builder" -> ((s, d) =>
      graft.query.ArrayQuery(s, ttLineitem(s, d))
        .cond("l_quantity < 24.0")
        .agg(Map("l_extendedprice" -> Seq("min", "max", "count")))
        .df),

    // --- joins / group-by / top-k (scale extensions) ---
    "group_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity"), "sum_qty"),
        dsum(col("l_extendedprice"), "sum_price"),
        count(lit(1)).as("n"))),
    "join_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice"), "revenue"), count(lit(1)).as("n"))
    }),
    "topk_orders" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 10)
    }),

    // --- dedup (scale extensions) ---
    "dedup_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + DupOff))
      Dedup.exact(doubled, Seq("text"), "doc_id")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),
    "dedup_exact_hash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + DupOff))
      Dedup.exactByHash(doubled, "text", "doc_id")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),
    // --- edit-distance (PassJoin pigeonhole, EXACT — full oracle) ---
    "edit_neardups" -> ((s, d) => {
      Dedup.editNearDups(t(s, d, "part"), "p_partkey", "p_name", maxDist = 2)
    }),
    "edit_join" -> ((s, d) => {
      val part = t(s, d, "part")
      val left = part.select(col("p_partkey").as("lid"), col("p_name"))
      val right = part.select((col("p_partkey") + 100000L).as("rid"),
        concat(col("p_name"), lit("s")).as("r_name"))
      Dedup.editJoin(left, "lid", "p_name", right, "rid", "r_name", maxDist = 1)
    }),
    // best-match linkage: each left key's single closest right match
    "edit_join_best" -> ((s, d) => {
      val part = t(s, d, "part")
      val left = part.select(col("p_partkey").as("lid"), col("p_name"))
      val right = part.select((col("p_partkey") + 100000L).as("rid"),
        concat(col("p_name"), lit("s")).as("r_name"))
      Dedup.editJoinBest(left, "lid", "p_name", right, "rid", "r_name", maxDist = 2)
    }),
    // fuzzy-drop gate: planted dist-1 typo copies carry HIGHER ids than
    // their originals, so cluster-min-id keeps the original and every
    // planted copy must die; survivors of distinct components are
    // pairwise > maxDist by construction — both pinned to exact zeros
    "edit_drop_gate" -> ((s, d) => {
      val part = t(s, d, "part").select(col("p_partkey"), col("p_name"))
      // derive the planted-id offset from the data: a fixed constant
      // would collide with real p_partkey values at large enough sf and
      // count surviving ORIGINALS as planted
      val off = part.agg(max(col("p_partkey"))).head.getLong(0) + 1L
      val planted = part.select((col("p_partkey") + off).as("p_partkey"),
        concat(col("p_name"), lit("x")).as("p_name"))
      val kept = Dedup.dropEditDups(part.unionByName(planted),
        "p_partkey", "p_name", maxDist = 2).localCheckpoint(true)
      // both verdicts read only the checkpointed survivors — overlap
      // the cheap planted count with the heavy residual pass (§2.6)
      val vs = graft.core.Par.jobs(s)(
        () => kept.filter(col("p_partkey") >= off).count(),
        () => Dedup.editNearDups(kept, "p_partkey", "p_name",
          maxDist = 2).count())
      val (plantedSurvivors, residual) = (vs(0), vs(1))
      s.range(1).select(lit(plantedSurvivors).as("planted_survivors"),
        lit(residual).as("survivor_pairs_within_k"))
    }),
    "minhash_neardups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // plant near-dups: copies with a tiny suffix edit
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy")))
      Dedup.minhashNearDups(docs.unionByName(edited), "doc_id", "text", threshold = 0.6)
    }),
    "simhash_neardups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" x")))
      Dedup.simhashNearDups(docs.unionByName(edited), "doc_id", "text", maxHamming = 3)
    }),
    // Incremental dedup against the PERSISTED MinHash-LSH index (the
    // steady-state ingest path at corpus scale: probe cost ~ batch, the
    // corpus is never re-LSH'd). Gate: (a) an exact-verified probe of
    // planted near-dup edits + fresh docs finds every planted doc's
    // source and matches no fresh doc; (b) the probe's cross-boundary
    // pair set equals what the one-shot batch path (minhashNearDups on
    // corpus ∪ batch) finds — index and batch paths agree exactly.
    "minhash_index_gate" -> ((s, d) => {
      val uri = minhashIndex(s, d)
      val (docs, planted, batch) = minhashGateInputs(s, d)
      // the probe and the one-shot arm are independent given (batch,
      // docs, uri) — overlap their eager checkpoint jobs (§2.6).
      val arms = graft.core.Par.jobs(s)(
        () => minhashGateProbe(batch, docs, uri),
        () => minhashGateOneShot(docs, batch))
      val (probed, oneShot) = (arms(0), arms(1))
      val (plantedFound, freshClean, pathsAgree) =
        minhashGateParity(probed, oneShot, planted)
      s.range(1).select(
        lit(plantedFound).as("planted_found"),
        lit(freshClean).as("fresh_clean"),
        lit(pathsAgree).as("paths_agree"))
    }),
    // end-to-end drop pipeline gate (near-dup pairs -> connected
    // components -> min-id survivor per component): every planted copy
    // shares a component with its original (measured LSH recall 1.0),
    // and the original has the smaller id, so NO copy may survive.
    "dedup_drop_gate" -> ((s, d) => {
      // FULL doubled corpus: the driver union-find collapsed the old
      // per-round iterative-CC overhead, so the end-to-end drop pipeline
      // is gated at real bench corpus size
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy")))
      Dedup.dropNearDups(docs.unionByName(edited), "doc_id", "text", threshold = 0.6)
        .agg(sum(when(col("doc_id") >= DupOff, 1L).otherwise(0L))
          .as("planted_survivors"))
    }),
    // Bench-scale exercise of the distributed alternating-star CC path:
    // the SAME doubled dup graph as dedup_drop_gate, clustered BOTH
    // ways — driverLimit=0 forces the star rounds, the default runs the
    // driver union-find — and the gate counts label disagreements
    // (exactly 0; both paths must pick identical component minima).
    // Until now the star path only ran on unit-test graphs; this runs
    // it on the full sf dup graph every round, under the bench clock.
    "dedup_star_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy")))
      // share one LSH pass across both clustering paths
      val pairs = Dedup.minhashNearDups(docs.unionByName(edited),
        "doc_id", "text", threshold = 0.6).localCheckpoint(true)
      // the two clustering paths read only the checkpointed pairs and
      // run their own eager jobs (stats + star rounds vs stats +
      // collect) — overlap them (§2.6)
      val arms = graft.core.Par.jobs(s)(
        () => Dedup.dupClusters(pairs, driverLimit = 0L)
          .withColumnRenamed("cluster", "c_star"),
        () => Dedup.dupClusters(pairs).withColumnRenamed("cluster", "c_uf"))
      val (star, uf) = (arms(0), arms(1))
      star.join(uf, "id")
        .agg(coalesce(sum(when(col("c_star") =!= col("c_uf"), 1L).otherwise(0L)),
          lit(-1L)).as("mismatches"), (count(lit(1)) > 0).as("nonempty"))
    }),

    // LSH recall gate for minhash_neardups: every planted pair whose
    // EXACT hashed-shingle jaccard clears the threshold (the ground
    // truth the banded LSH is approximating) must be recovered at >=0.9.
    // Measured 1.00 at sf0.001/0.01/0.1 — the corpus texts are long, so
    // planted-edit jaccard lands >=0.85 where the 64-hash/16-band
    // S-curve is ~1.0; the floor still fails on any banding/verify
    // regression. Driver-checkable companion to the rows-only query.
    "minhash_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy")))
      val all = docs.unionByName(edited)
      val hs = all.select(col("doc_id"), graft.functions.ShingleHashes(
        lower(regexp_replace(trim(col("text")), TextAnalysis.WsClass + "+", " ")), 5).as("__hs"))
      val truth = hs.select(col("doc_id").as("a"), col("__hs").as("__ha"))
        .join(hs.select((col("doc_id") - DupOff).as("a"), col("__hs").as("__hb")), "a")
        .filter(Dedup.hashedJaccard(col("__ha"), col("__hb")) >= 0.6)
        .select("a")
      val found = Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.6)
        .filter(col("b") === col("a") + DupOff).select("a")
      truth.join(found.withColumn("__hit", lit(1)), Seq("a"), "left")
        .agg((sum(coalesce(col("__hit"), lit(0))).cast("double") /
          count(lit(1))).as("recall"))
        .select((col("recall") >= 0.9).as("recall_ok"))
    }),
    // Pigeonhole exactness gate for simhash_neardups: 4x16-bit bands
    // GUARANTEE any pair within hamming distance 3 shares a band, so
    // the LSH must find every planted pair whose simhash distance is
    // <=3 — missed is exactly 0, deterministically, not a floor.
    "simhash_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" x")))
      val all = docs.unionByName(edited)
      val sh = all.select(col("doc_id"), Dedup.simhash(col("text")).as("__sh"))
      val truth = sh.select(col("doc_id").as("a"), col("__sh").as("__sa"))
        .join(sh.select((col("doc_id") - DupOff).as("a"), col("__sh").as("__sb")), "a")
        .filter(Dedup.hammingDist64(col("__sa"), col("__sb")) <= 3)
        .select("a")
      val found = Dedup.simhashNearDups(all, "doc_id", "text", maxHamming = 3)
        .filter(col("b") === col("a") + DupOff).select("a")
      truth.join(found.withColumn("__hit", lit(1)), Seq("a"), "left")
        .agg(sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("missed"))
    }),
    "embedding_neardups" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val jittered = e.withColumn("vec_id", col("vec_id") + DupOff)
      Dedup.embeddingNearDups(e.unionByName(jittered), "vec_id", "embedding",
        minCosine = 0.999)
    }),

    // int8 embedding quantization gate: every vector round-trips with
    // cosine >= 0.99, codes are 1-byte, zero vectors are zero-safe;
    // the vector count is oracle-valued
    "embedding_quantize_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val rt = e.withColumn("__q", Similarity.quantizeInt8(col("embedding")))
        .withColumn("__back", Similarity.dequantizeInt8(col("__q")))
      val n = rt.count()
      val worst = rt.select(Similarity.cosine(col("embedding"), col("__back")).as("c"))
        .agg(min("c")).collect()(0).getDouble(0)
      s.range(1).select(lit(n).as("n_vecs"),
        lit(worst >= 0.99).as("cosine_preserved"))
    }),

    // SemDeDup-style semantic dedup gate (k-means cells + within-cell
    // exact cosine): every planted duplicate pair surfaces (identical
    // vectors share a deterministic cell), every emitted pair is
    // exact-verified above threshold, and the drop keeps exactly one
    // min-id survivor per duplicate component
    "semantic_dedup_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val planted = e.withColumn("vec_id", col("vec_id") + DupOff)
      val corpus = e.unionByName(planted)
      // ONE pairs pass feeds all checks (dropSemanticDups would
      // recompute the quantizer and the within-cell pairs; its
      // anti-join semantics are replicated on the loser set — the op
      // itself is spec-tested directly)
      val pairs = Dedup.semanticNearDups(corpus, "vec_id", "embedding",
        nClusters = 8, minCosine = 0.999).localCheckpoint(true)
      val plantedPairs = e.select(col("vec_id").as("a"),
        (col("vec_id") + DupOff).as("b"))
      val missed = plantedPairs
        .join(pairs.select("a", "b"), Seq("a", "b"), "left_anti").count()
      val below = pairs.filter(col("cosine") < 0.999).count()
      val losers = Dedup.dupClusters(pairs)
        .filter(col("id") =!= col("cluster"))
      val nVecs = e.count()
      val nSurv = 2 * nVecs - losers.count()
      val plantedLost = losers.filter(col("id") >= DupOff).count()
      s.range(1).select(
        lit(nVecs).as("n_vecs"),
        lit(missed).as("planted_missed"),
        lit(below).as("below_threshold"),
        lit(nSurv == nVecs).as("one_survivor_per_pair"),
        lit(nVecs - plantedLost).as("planted_survivors"))
    }),

    // semantic dedup under TWO-LEVEL (coarse-probed) assignment — the
    // production-k SemDeDup path exercised END TO END, not just the
    // assignment expression ([[hier_assign_gate]]): planted exact
    // duplicates must ALL surface (identical vectors share a cell
    // under any deterministic assignment — structural recall), every
    // emitted pair is exact-cosine-verified, and the near-dup pair
    // set agrees with the flat-assignment path above a measured floor
    // (cell-boundary straddles are the only allowed source of loss;
    // measured agreement at sf0.01/sf0.1 is 1.0 — floor set at 0.9)
    "semantic_hier_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val planted = e.withColumn("vec_id", col("vec_id") + DupOff)
      val corpus = e.unionByName(planted)
      // the flat and coarse-probed arms are independent eager
      // pipelines — overlap them, then the five verdict reads (§2.6)
      val arms = graft.core.Par.jobs(s)(
        () => Dedup.semanticNearDups(corpus, "vec_id", "embedding",
          nClusters = 64, minCosine = 0.999).localCheckpoint(true),
        () => Dedup.semanticNearDups(corpus, "vec_id", "embedding",
          nClusters = 64, minCosine = 0.999,
          coarseProbe = Some((8, 3))).localCheckpoint(true))
      val (flat, hier) = (arms(0), arms(1))
      val plantedPairs = e.select(col("vec_id").as("a"),
        (col("vec_id") + DupOff).as("b"))
      val vs = graft.core.Par.jobs(s)(
        () => plantedPairs
          .join(hier.select("a", "b"), Seq("a", "b"), "left_anti").count(),
        () => hier.filter(col("cosine") < 0.999).count(),
        () => flat.count(),
        () => hier.select("a", "b")
          .join(flat.select("a", "b"), Seq("a", "b"), "left_semi").count(),
        () => e.count())
      val (missed, below, nFlat, common) = (vs(0), vs(1), vs(2), vs(3))
      s.range(1).select(
        lit(vs(4)).as("n_vecs"),
        lit(missed).as("planted_missed"),
        lit(below).as("below_threshold"),
        lit(nFlat > 0L && common.toDouble / nFlat >= 0.9).as("agree_ok"))
    }),

    // two-level (coarse-probed) centroid assignment gate — the
    // documented k-scaling fix for the flat literal-table argmin.
    // Exact invariant: whenever the flat winner's coarse group is
    // probed, hierarchical == flat (same kernel, same tie rule) —
    // violations must be 0. Statistical invariant: overall agreement
    // >= 0.85 at m=8 / nprobe=3 over k=64 cells.
    "hier_assign_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        nCentroids = 64, lloydSteps = 2, trainPerCentroid = 8)
      val (coarse, members) = Similarity.trainCoarse(cents, 8, s)
      val nprobe = 3
      val flat = Similarity.assignNarrow(col("embedding"), cents)
      val hier = Similarity.assignHierarchical(col("embedding"), cents,
        coarse, members, nprobe)
      val memberLit = typedLit(members.map(_.map(_.toLong)))
      val cand = flatten(transform(
        Similarity.probeNarrow(col("embedding"), coarse, nprobe),
        g => element_at(memberLit, g.cast("int") + 1)))
      val agg = e.select(flat.as("f"), hier.as("h"),
          array_contains(cand, flat).as("c"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("c") && col("f") =!= col("h"), 1L).otherwise(0L))
            .as("contained_violations"),
          avg(when(col("f") === col("h"), 1.0).otherwise(0.0)).as("agree"))
      agg.select(col("n").as("n_vecs"), col("contained_violations"),
        (col("agree") >= 0.85).as("agree_ok"))
    }),

    // embedding-space decontamination: every corpus vector within
    // cosine 0.99 of a reference vector (refs = every 50th embedding
    // re-idd) — hash-exact, DuckDB replays the dot/norm arithmetic on
    // DOUBLE[] with the same operation order as the DotF kernel
    "embedding_decontam" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val ref = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("ref_id"), col("embedding"))
      Similarity.crossCosineMatches(e, "vec_id", "embedding",
        ref, "ref_id", "embedding", minCosine = 0.99)
    }),

    // cross-corpus decontamination gate: the ref set is every 25th
    // doc's text mangled only in ways shingle normalization undoes
    // (case, extra whitespace), so each planted (corpus, ref) pair
    // must surface with jaccard EXACTLY 1.0; crossNearDups emits
    // cross-side pairs only, so corpus-internal duplicates can't
    // inflate the result
    "decontam_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("ref_id"),
          concat(lit("  "),
            regexp_replace(upper(col("text")), " ", "   ")).as("text"))
      val pairs = Dedup.crossNearDups(docs, "doc_id", "text",
        ref, "ref_id", "text", threshold = 0.7).localCheckpoint(true)
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("corpus_id"),
          (col("doc_id") + 1000000L).as("ref_id"))
      // four independent verdict reads of the checkpointed pairs (§2.6)
      val vs = graft.core.Par.jobs(s)(
        () => planted.count(),
        () => planted
          .join(pairs.select("corpus_id", "ref_id"),
            Seq("corpus_id", "ref_id"), "left_anti").count(),
        () => planted
          .join(pairs.filter(col("jaccard") === 1.0),
            Seq("corpus_id", "ref_id"), "left_semi").count(),
        () => pairs.select("corpus_id").distinct().count())
      val (nRef, missed, exact, flagged) = (vs(0), vs(1), vs(2), vs(3))
      s.range(1).select(lit(nRef).as("n_ref"),
        lit(missed).as("planted_missed"),
        lit(exact == nRef).as("planted_exact"),
        lit(flagged >= nRef).as("contaminated_found"))
    }),

    // linear-probe classifier gate: sample-bounded distributed softmax
    // trainer + narrow literal-weights inference. Pseudo-labels are the
    // IVF centroid assignment — nearest-centroid regions are linearly
    // separable by construction, whereas the embeddings' `label` column
    // is noise w.r.t. the vectors (measured: held-out accuracy at
    // chance for any linear model), so distillation is the honest
    // learnability target on this fixture.
    "embedding_classify_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding", 8)
      val labeled = e.withColumn("cls",
        Similarity.assignNarrow(col("embedding"), cents).cast("int"))
      val train = labeled.filter(col("vec_id") % 5 =!= 0)
      val held = labeled.filter(col("vec_id") % 5 === 0)
      val w = graft.ops.Classify.trainSoftmax(train, "vec_id", "embedding",
        "cls", numClasses = 8, epochs = 1000, lr = 2.0)
      // one agg per split (hits + n in a single job, not two), and the
      // two splits' jobs overlapped (§2.6)
      def acc(df: DataFrame): () => (Long, Long) = () => {
        // coalesce: sum over ZERO rows is null — an empty split must
        // report (0, 0) like the old filter().count() did, not NPE
        // (r20 ADVICE)
        val r = df.withColumn("pred",
            graft.ops.Classify.predictSoftmax(col("embedding"), w))
          .agg(coalesce(sum(when(col("pred") === col("cls"), 1L)
            .otherwise(0L)), lit(0L)), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val accs = graft.core.Par.jobs(s)(acc(train), acc(held))
      val (trHit, trN) = accs(0)
      val (teHit, teN) = accs(1)
      s.range(1).select(
        lit(trN).as("n_train"), lit(teN).as("n_test"),
        lit(trHit.toDouble / trN >= 0.9).as("train_acc_ok"),
        lit(teHit.toDouble / teN >= 0.65).as("test_acc_ok"))
    }),

    // --- similarity search (scale extensions) ---
    "knn_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
    }),
    // deterministic sparse random projection (Achlioptas JL): the
    // md5-derived +-1/0 matrix is a pure function of (salt, dims), so
    // DuckDB rebuilds it bit-identically and replays every projected
    // coordinate
    "random_projection" -> ((s, d) =>
      Similarity.randomProject(t(s, d, "embeddings"), "vec_id", "embedding",
        outDim = 16, inDim = 64)),
    // metadata-filtered vector search: exact top-k among label=1 rows
    // only (DuckDB replays the WHERE); k eligible rows, never fewer
    "knn_filtered" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("label") === 1), "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
    }),
    // gate: the filtered INDEX path (payload predicate inside the
    // pruned cell scan) at full probe equals filtered brute force
    // exactly, and never leaks an ineligible row at narrow probe
    "knn_filtered_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val idx = ivfIndexLabeled(s, d)
      val pred = col("label") === 1
      val full = Similarity.ivfIndexTopK(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 16, filter = Some(pred))
      val brute = Similarity.bruteForceTopK(e.filter(pred),
        "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val cols = Seq("query_id", "neighbor_id", "cosine", "rank")
      val mism = multisetMismatches(full, brute, cols)
        .head().getLong(0)
      val narrow = Similarity.ivfIndexTopK(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 4, filter = Some(pred))
      val leaked = narrow.join(
        e.filter(col("label") =!= 1).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi").count()
      s.range(1).select(lit(mism).as("mismatches"),
        lit(leaked).as("ineligible_rows"))
    }),
    "knn_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nCentroids = 16, nprobe = 8)
    }),
    // (the recall gate for the approximate path is knn_ivf_recall
    // below: floor 0.9 at nprobe=14, curve in BASELINE.md.)
    // persisted-index equality gate: querying the cell-partitioned
    // index (static partition pruning to the probed cells) must return
    // EXACTLY the inline IVF result — same deterministic trainer, so
    // any divergence means the index write/prune/read path is wrong.
    "knn_ivf_indexed" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val indexed = Similarity.ivfIndexTopK(s, ivfIndex(s, d), q,
        "vec_id", "embedding", k = 10, nprobe = 8)
      val inline = Similarity.ivfTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nCentroids = 16, nprobe = 8)
      multisetMismatches(indexed, inline,
        Seq("query_id", "neighbor_id", "cosine", "rank"))
    }),
    // Quantized-scan + exact re-rank gate: the two-phase plan (int8
    // candidate scoring over the narrow codes column, true-vector
    // re-rank of the top-4k candidates) must return EXACTLY the
    // exact-scored index result — i.e. quantization noise stays inside
    // the candidate margin. Deterministic fixture, so equality is
    // stable, and any regression in the quantize/dequantize kernels or
    // the candidate-fetch join shows up as a mismatch.
    // PQ (product quantization) gates, config m=8/ksub=256 = 8 bytes
    // per 64-dim vector (32x vs float32; int8 is only 4x). The
    // embeddings are near-orthogonal — PQ's WORST case — so the floors
    // hold a fortiori on clustered real embeddings (BASELINE.md, "PQ
    // quality sweep"). Round-trip: every vector's reconstruction cosine.
    "pq_roundtrip_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cb = Similarity.trainPq(e, "vec_id", "embedding", m = 8, ksub = 256)
      val rt = e.withColumn("codes",
          Similarity.pqEncode(Similarity.unitNorm(col("embedding")), cb))
        .withColumn("back", Similarity.pqDecode(col("codes"), cb))
      val n = rt.count()
      val worst = rt.select(Similarity.cosine(col("embedding"), col("back")).as("c"))
        .agg(min("c")).collect()(0).getDouble(0)
      s.range(1).select(lit(n).as("n_vecs"),
        lit(worst >= 0.8).as("reconstruction_ok"))
    }),
    // ADC top-k with exact re-rank of the top-100 candidates must hit
    // >= 0.9 recall@10 vs brute force (measured 1.0 at sf0.01).
    "pq_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val pq = Similarity.pqTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, m = 8, ksub = 256, rerank = 100)
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      Similarity.recallAtK(pq, brute)
        .select((col("recall") >= 0.9).as("recall_ok"))
    }),
    // persisted codes-only index must agree with the inline ADC path
    // exactly (same codebook -> same codes -> same scores and ranks)
    "pq_index_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val uri = s"$arrayBase/${sfKey(d)}/pq_index"
      synchronized {
        if (!graft.storage.VFS(s).exists(s"$uri/codebook.json"))
          Similarity.buildPqIndex(e, "vec_id", "embedding", uri,
            m = 8, ksub = 256)
      }
      val cb = Similarity.pqCodebook(s, uri)
      val inline = Similarity.pqTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, codebookOpt = Some(cb))
      val idx = Similarity.pqIndexTopK(s, uri, q, "vec_id", "embedding", k = 10)
      multisetMismatches(idx, inline,
        Seq("query_id", "neighbor_id", "cosine", "rank"))
    }),
    // IVF+PQ (the production ANN shape: cell-pruned probes over 8-byte
    // codes): with every cell probed and every candidate re-ranked the
    // result must EQUAL exact brute force — pins assignment, encode,
    // ADC, and the re-rank join end to end. The cheap-probe recall is
    // covered by the same machinery as pq_recall (shared codebook path).
    "ivfpq_gate" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val uri = s"$arrayBase/${sfKey(d)}/ivfpq_index"
      synchronized {
        if (!graft.storage.VFS(s).exists(s"$uri/codebook.json"))
          Similarity.buildIvfPqIndex(e, "vec_id", "embedding", uri,
            nCentroids = 16, m = 8, ksub = 256)
      }
      // rerank = corpus size → "re-rank everything"; NOT a huge
      // constant, which would size the per-key top-k heaps at the
      // constant (measured: rerank = 1<<20 cost 28 s in heap churn)
      val all = Similarity.ivfPqTopK(s, uri, q, "vec_id", "embedding",
        k = 10, nprobe = 16, rerankFrom = Some((e, "vec_id", "embedding")),
        rerank = e.count().toInt)
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      multisetMismatches(all, brute,
        Seq("query_id", "neighbor_id", "cosine", "rank"))
    }),
    "knn_ivf_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val uri = ivfIndex(s, d)
      val reranked = Similarity.ivfIndexTopK(s, uri, q,
        "vec_id", "embedding", k = 10, nprobe = 8, rerank = 40)
      val exact = Similarity.ivfIndexTopK(s, uri, q,
        "vec_id", "embedding", k = 10, nprobe = 8)
      multisetMismatches(reranked, exact,
        Seq("query_id", "neighbor_id", "cosine", "rank"))
    }),
    // Incremental IVF maintenance: an index built over HALF the
    // vectors, with the other half appended (assigned to existing
    // centroids, cell dirs appended — no retrain, no corpus re-read),
    // must (a) hold every vector and (b) find each probed appended
    // vector as its own rank-1 neighbor.
    "knn_ivf_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val uri = s"$arrayBase/${sfKey(d)}/ivf_append_index"
      val fs = graft.storage.VFS(s)
      val stale = !scala.util.Try(s.read.parquet(Similarity.cellsPath(s, uri))
        .schema.fieldNames.contains("codes")).getOrElse(false)
      synchronized { if (stale || !fs.exists(s"$uri/centroids.json")) {
        fs.delete(uri)
        Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", uri, nCentroids = 16, lloydSteps = 2)
        Similarity.appendToIvfIndex(e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", uri)
      } }
      // base ∪ inc: appends land in the inc tier (r16 bounded-
      // maintenance layout), so the indexed count reads both
      val total = Similarity.readCellsAll(s, uri).count()
      val q = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 16)
      val res = Similarity.ivfIndexTopK(s, uri, q, "vec_id", "embedding",
        k = 3, nprobe = 4)
      val selfTop = res.filter(col("rank") === 1 &&
        col("neighbor_id") === col("query_id")).count()
      val nQ = q.count()
      s.range(1).select(lit(total).as("n_indexed"),
        lit(selfTop == nQ && nQ > 0).as("appended_found"))
    }),
    // TWO-LEVEL layout gate (r18): force a re-split past a tiny flat
    // ceiling (coarse group dirs + sorted fine data column), then
    // assert the probe-ALL result — every group, every fine cell —
    // equals exact brute force row-for-row, AND that the layout
    // actually flipped (coarse tables in the geometry sidecar). The
    // identity holds at any geometry, so it pins the whole two-level
    // read path: group-dir pruning, fine-cell row-group pruning,
    // HierProbeK selection, and the sidecar round-trip.
    "knn_ivf2l_gate" -> ((s, d) => {
      // deterministic subset: the probe-all == brute-force identity is
      // scale-invariant, and the full-corpus arm costs two extra full
      // scans + a two-level training per bench run for no extra pin
      val e = t(s, d, "embeddings").filter(col("vec_id") < 5000)
      val q = e.filter(col("vec_id") < 8)
      val uri = s"$arrayBase/${sfKey(d)}/ivf2l_gate"
      val fs = graft.storage.VFS(s)
      // cached fixture, self-healed like ivfIndex: rebuilding + the
      // two-level training per bench run cost ~3.5 s for no extra pin
      val usable = scala.util.Try(
        fs.readString(s"${Similarity.cellsPath(s, uri)}/_centroids.json")
          .contains("\"coarse\"")).getOrElse(false)
      if (!usable) {
        fs.delete(uri)
        Similarity.buildIvfIndex(e, "vec_id", "embedding", uri, nCentroids = 8)
        // target sized from the CORPUS so the re-split always wants
        // ~80 cells — past the 16-cell ceiling AND the 2x hysteresis
        // at any sf (a fixed target breaks at small verify scales:
        // 500 rows / 64 = 8 wanted cells = no flip = gate false).
        // ~80 cells is the smallest geometry that exercises every
        // two-level code path; the probe-all identity is
        // geometry-invariant, so bigger k only buys training jobs
        val target = math.max(1L, e.count() / 80)
        Similarity.compactIvfIndex(s, uri, resplitTargetRows = target,
          maxFlatCells = 16)
      }
      val cents = Similarity.indexCentroids(s, uri)
      val twoLevel = graft.storage.VFS(s)
        .readString(s"${Similarity.cellsPath(s, uri)}/_centroids.json")
        .contains("\"coarse\"") && cents.size > 16
      val idx = Similarity.ivfIndexTopK(s, uri, q, "vec_id", "embedding",
        k = 10, nprobe = cents.size, nprobeCoarse = cents.size)
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val mism = multisetMismatches(idx, brute,
        Seq("query_id", "neighbor_id", "cosine", "rank"))
        .head().getLong(0)
      s.range(1).select(lit(mism).as("mismatches"),
        lit(twoLevel).as("twolevel"))
    }),
    "knn_ivf_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      // floor 0.9 at nprobe=14/16, from the measured recall@10 curve
      // (BASELINE.md, "IVF recall-vs-nprobe curve"): the test
      // embeddings are near-uniform on the sphere (no cluster
      // structure), so recall tracks the probed-corpus fraction —
      // nprobe=12 hits exactly 0.90 at sf0.01 (zero margin) while 14
      // measures 0.9875/0.9625 (sf0.01/sf0.1). Real clustered
      // embeddings sit far left of this curve at equal recall.
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nCentroids = 16, nprobe = 14)
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      Similarity.recallAtK(ivf, brute)
        .select((col("recall") >= 0.9).as("recall_ok"))
    }),

    // --- text analysis (scale extensions) ---
    "text_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))),
    // context-window chunking (64-token windows, 16 overlap) — DuckDB
    // replays the exact slicing, values hash-exact
    "text_chunks" -> ((s, d) => TextAnalysis.chunkDocs(
      t(s, d, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)),
    // Sequence packing (partition-local best-fit-decreasing into
    // 512-token training sequences). n_docs/total_tokens are recomputed
    // independently by the DuckDB oracle — conservation through the
    // packing shuffle is value-checked, not just asserted; the
    // assignment-shape invariants (budget respected, oversize flagged
    // and solitary, fill efficiency vs the global lower bound) are
    // booleans the oracle pins true.
    "packing_gate" -> ((s, d) => {
      import s.implicits._
      val budget = 512L
      // budgets in REAL (learned-BPE) tokens, not whitespace pieces —
      // the currency a training pipeline actually packs by. The oracle
      // recomputes total_tokens by replaying the same merge table.
      val counts = TextAnalysis.bpeTokenCounts(
        t(s, d, "documents").select("doc_id", "text").as[(Long, String)])
        .toDF("doc_id", "__bpe")
      val packed = graft.ops.Packing.packDocs(
        counts, "doc_id", col("__bpe"), budget, 0)
        .localCheckpoint(true)
      val stats = graft.ops.Packing.packStats(packed, budget).localCheckpoint(true)
      val nDocs = packed.count()
      val dupDocs = nDocs - packed.select("doc_id").distinct().count()
      val total = packed.agg(sum("tokens")).collect()(0).getLong(0)
      val overBudget = stats.filter(col("tokens") > budget && !col("oversize")).count()
      val badOversize = stats.filter(col("oversize") && col("docs") =!= 1).count()
      val regular = stats.filter(!col("oversize"))
      val nPacks = regular.count()
      val regTokens = regular.agg(coalesce(sum("tokens"), lit(0L))).collect()(0).getLong(0)
      val lower = (regTokens + budget - 1) / budget
      val nPart = s.sessionState.conf.numShufflePartitions
      val efficient = nPacks <= (lower * 5) / 4 + nPart
      s.range(1).select(
        lit(nDocs).as("n_docs"),
        lit(total).as("total_tokens"),
        lit(dupDocs == 0 && overBudget == 0 && badOversize == 0).as("well_formed"),
        lit(efficient).as("efficient"))
    }),
    // REAL byte-pair encoding (greedy rank-ordered merges over the
    // embedded table), not regex-piece counting; the DuckDB oracle
    // replays the identical merge loop via a recursive CTE generated
    // from the SAME merge table (bpeOracleSql)
    "text_tokens_bpe" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bpeTokenCounts(
        t(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)])
        .toDF("doc_id", "n_bpe")
    }),
    // training-ready token IDS (not just counts): per-doc id sequences
    // under the stable vocab scheme (code point for single chars,
    // 0x110000 + rank-ordered distinct merge output otherwise) — the
    // oracle replays segmentation AND the id mapping from the same
    // embedded table, so the full tokenizer output is hash-exact
    "text_token_ids" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bpeTokenIds(
        t(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)])
        .toDF("doc_id", "__ids")
        .select(col("doc_id"), size(col("__ids")).cast(LongType).as("n_tokens"),
          concat_ws(",", transform(col("__ids"), x => x.cast("string")))
            .as("token_ids"))
    }),
    // tokenize-and-pack end to end: per-pack flattened id sequences.
    // The DuckDB oracle pins the conservation law with an EXACT total
    // (sum of the replayed per-doc BPE counts); per-pack consistency
    // and budget respect are deterministic invariants
    // token-proportional mixture: water-filled per-source rates from
    // EXACT token totals, md5 keep decision — every kept row and the
    // rate arithmetic replay exactly in DuckDB
    "token_mixture_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      Curation.tokenMixtureSample(docs, "source", "doc_id", "n_tokens",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),
    "packed_ids_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val budget = 512L
      val packs = graft.ops.Packing
        .packedTokenIds(docs, "doc_id", "text", budget).localCheckpoint(true)
      val inconsistent = packs
        .filter(size(col("input_ids")).cast(LongType) =!= col("tokens")).count()
      val overBudget = packs
        .filter(col("tokens") > budget && col("n_docs") > 1).count()
      val total = packs.agg(sum(size(col("input_ids")).cast(LongType)))
        .head().getLong(0)
      s.range(1).select(lit(total).as("total_tokens"),
        lit(inconsistent == 0).as("sizes_consistent"),
        lit(overBudget == 0).as("budget_respected"))
    }),
    // Gopher rule set as auditable per-doc booleans; DuckDB replays
    // every rule's exact integer/ratio arithmetic
    "gopher_rules" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.keep").as("keep"),
          col("g.ok_word_count").as("ok_word_count"),
          col("g.ok_mean_word_len").as("ok_mean_word_len"),
          col("g.ok_symbol_ratio").as("ok_symbol_ratio"),
          col("g.ok_bullet_lines").as("ok_bullet_lines"),
          col("g.ok_ellipsis_lines").as("ok_ellipsis_lines"),
          col("g.ok_alpha_words").as("ok_alpha_words"),
          col("g.ok_stopwords").as("ok_stopwords"))),
    "text_quality" -> ((s, d) => {
      val txt = col("text")
      val len = length(txt).cast(DoubleType)
      t(s, d, "documents").select(col("doc_id"),
        length(txt).cast(LongType).as("len"),
        round(length(regexp_replace(txt, "[^A-Za-z ]", "")).cast(DoubleType)
          / greatest(len, lit(1.0)), 6).as("alpha_ratio"),
        round(length(regexp_replace(txt, "[^.,;:!?'\"]", "")).cast(DoubleType)
          / greatest(len, lit(1.0)), 6).as("punct_ratio"))
    }),
    // within-doc word-distribution entropy (bits): narrow sorted-array
    // run-length fold in Spark, unnest + group-by recompute in DuckDB.
    "text_entropy" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.wordEntropy(col("text")).as("word_entropy"))),
    // multi-language planted fixture: each doc gets one phrase from the
    // 33-entry table (8 script-decided + 20 stopword languages + one
    // gibberish 'und' case + 4 confusable-pair phrases that only the
    // char-n-gram stage separates); DuckDB replays the identical
    // script-ratio chain + stopword*16+ngram argmax from the same
    // tables (langIdOracleSql is GENERATED from TextAnalysis tables,
    // so the two
    // engines can never drift apart silently)
    // multi-phrase exact scan (Aho-Corasick): one text pass regardless
    // of phrase-list size — the eval-canary / blocklist primitive.
    // Exact, so the oracle replays per-phrase contains() brute-force.
    "phrase_scan" -> ((s, d) =>
      graft.ops.TextAnalysis.phraseMatches(t(s, d, "documents"),
        "doc_id", "text", PhraseList)),
    "text_langid" -> ((s, d) => {
      val planted = element_at(array(langPhrases.map(lit): _*),
        (col("doc_id") % langPhrases.length).cast("int") + 1)
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(planted).as("lang_pred"))
    }),
    "text_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("fp"))),
    // CCNet-style LM quality scoring: train a Stupid-Backoff bigram LM
    // on the corpus itself (one count pass per order, frequency-floored
    // model), then score every doc's mean log10 P and perplexity. The
    // DuckDB oracle replays BOTH training and scoring from the raw
    // text — counts, floors, backoff and normalizer are exact count
    // arithmetic, so the result is value-exact end to end.
    "text_perplexity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val lm = NgramLm.trainBigramLm(docs, "text", minUnigram = 2L, minBigram = 3L)
      NgramLm.perplexity(docs, "doc_id", "text", lm)
    }),
    // per-doc top-5 TF-IDF keywords; DuckDB replays tf, df, the
    // ln(N/df) weighting and the rounded-score/term-asc ranking
    "tfidf_keywords" -> ((s, d) =>
      graft.ops.Search.tfidfKeywords(t(s, d, "documents"), "doc_id", "text", k = 5)),
    // global top-50 PMI collocations over the same floored count
    // tables as text_perplexity; counts, normalizers and the log10
    // ratio are exact count arithmetic in both engines
    "pmi_collocations" -> ((s, d) =>
      NgramLm.pmiCollocations(t(s, d, "documents"), "text", n = 50)),
    // min-gram signature in the SQL-portable (md5-prefix) form, so the
    // DuckDB oracle recomputes every doc's signature bit-exactly; the
    // native rolling-hash fingerprint stays under text_fp_gate
    "text_minhash_sig" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.minGramSig(col("text")).as("sig"))),
    // Semantic gate for the content-defined fingerprint (whose 64-bit
    // wraparound arithmetic DuckDB can't reproduce). Winnowing-style
    // min-hash fingerprints collide on similar texts BY DESIGN, so the
    // checkable contract is its documented invariance: the fingerprint
    // must be identical under whitespace mangling and case changes,
    // deterministically, for every document -> violations = 0.
    "text_fp_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = TextAnalysis.fingerprint(col("text"))
      val mangled = TextAnalysis.fingerprint(
        concat(lit("  "), regexp_replace(upper(col("text")), " ", "\t  "), lit(" ")))
      docs.select(when(base === mangled, 0L).otherwise(1L).as("__v"))
        .agg(sum(col("__v")).as("violations"))
    }),

    // --- corpus curation (scale extensions) ---
    // PII redaction over synthetically planted addresses/numbers (the
    // corpus itself is clean, so redacting it raw would be a no-op
    // non-test): plant an email, an IPv4, and a phone derived from
    // doc_id, then redact; DuckDB replants and re-redacts with its own
    // regex engine, so the patterns must agree engine-to-engine.
    "pii_redact" -> ((s, d) => {
      val planted = concat(
        substring(col("text"), 1, 40),
        lit(" contact doc"), col("doc_id"), lit("@example.com or 555-123-4567 at 10.0.0."),
        col("doc_id") % 256)
      t(s, d, "documents").select(col("doc_id"),
        Curation.redactPii(planted).as("clean_text"))
    }),
    // keep at most 10 docs per source, lowest doc_id first
    "source_cap" -> ((s, d) =>
      Curation.capPerKey(t(s, d, "documents"), col("source"), col("doc_id"), 10)
        .select(col("doc_id"), col("source"))),
    // URL curation chain over a planted fixture that covers the whole
    // rule surface (uppercase scheme/host, default + non-default
    // ports, fragments, tracking params in first/middle/trailing/only
    // position, multi-label public suffixes, IPv4 hosts, schemeless
    // strings, bare root slash). DuckDB replays plant + every rule.
    "url_curation" -> ((s, d) => {
      val norm = Curation.normalizeUrl(plantedUrl)
      t(s, d, "documents").select(col("doc_id"), norm.as("url_norm"),
        Curation.urlHost(norm).as("host"),
        Curation.registeredDomain(Curation.urlHost(norm)).as("domain"))
    }),
    // registered-domain caps — the per-DOMAIN variant of source_cap
    // that crawl pipelines actually run (a single hot domain must not
    // dominate the corpus)
    "url_domain_cap" -> ((s, d) => {
      val df = t(s, d, "documents").select(col("doc_id"),
        Curation.registeredDomain(
          Curation.urlHost(Curation.normalizeUrl(plantedUrl))).as("domain"))
      Curation.capPerKey(df, col("domain"), col("doc_id"), 25)
    }),
    // C4-style boilerplate-line removal over a planted multi-line
    // fixture (template headers/footers shared across ~25-50% of docs,
    // unique bodies, blank lines, a below-threshold rare line).
    "boilerplate_gate" -> ((s, d) =>
      Curation.removeBoilerplate(
        t(s, d, "documents").select(col("doc_id"),
          plantedBoilerDoc.as("text")),
        "doc_id", "text", minDocs = 5)),
    // Canonical text cleanup over planted dirty text: decomposed
    // e+U+0301 (NFC must compose), BEL on even ids (stripped), CRLF on
    // every 3rd (-> LF), ZWSP on every 5th (stripped). DuckDB replays
    // the plant via chr() and the SAME regex constants, then its own
    // nfc_normalize.
    "text_clean" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Curation.cleanText(plantedDirtyDoc).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")))),
    // mojibake repair under the oracle: per doc a suffix is planted in
    // one of four corruption states — none (ASCII identity), Latin-1
    // mojibake of "café" (Ã©-style junk), a DECOMPOSED form that only
    // NFC fixes, and cp1252 mojibake of an em-dash (â€”-style junk,
    // exercising the 0x80-0x9F window) — and the repair + NFC chain
    // must reconstruct the clean composed text DuckDB builds with
    // chr() literals
    "mojibake_repair" -> ((s, d) => {
      import s.implicits._
      val planted = t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, text) =>
          def asLatin1(clean: String): String = {
            // UTF-8 bytes of the clean string read as cp1252/latin1
            val b = clean.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val sb = new StringBuilder
            b.foreach { byte =>
              val v = byte & 0xFF
              // cp1252 view of the byte (the 0x80-0x9F specials)
              val c = v match {
                case 0x80 => 0x20AC
                case 0x93 => 0x201C
                case 0x94 => 0x201D
                case 0x99 => 0x2122
                case o => o
              }
              sb.append(c.toChar)
            }
            sb.toString
          }
          val suffix = (id % 4) match {
            case 0 => ""
            case 1 => " " + asLatin1("caf\u00e9")
            case 2 => " e\u0301cole" // decomposed: only NFC composes it
            case 3 => " a" + asLatin1("\u2014") + "b"
          }
          (id, text + suffix)
        }.toDF("doc_id", "text")
      planted.select(col("doc_id"),
        Curation.cleanText(Curation.fixMojibake(col("text"))).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")))
    }),
    // HTML-to-text extraction over planted markup: script/style
    // subtrees (script on even ids, carrying <, & and a fake </p >
    // that must NOT become a newline), comments on ids%3, &amp;-last
    // entity ordering (&amp;lt; surfaces as literal "&lt;"), numeric +
    // named entities, attributed tags, <br/> vs <br > forms. DuckDB
    // replays the plant AND the strip chain generated from the same
    // Curation regex constants.
    "markup_strip" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Curation.stripMarkup(plantedHtmlDoc).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")))),
    // Keep-first exact paragraph dedup over a planted fixture: 3
    // shared templates (each on ~1/3 of docs, one survivor each), a
    // blank paragraph (kept), a unique body (kept), and for even ids a
    // whitespace-padded same-doc repeat of the body (removed).
    "paragraph_dedup" -> ((s, d) =>
      Curation.dedupParagraphs(
        t(s, d, "documents").select(col("doc_id"),
          plantedParaDoc.as("text")),
        "doc_id", "text")),
    "text_repetition" -> ((s, d) => {
      val f = Curation.repetitionFeatures(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        f.getField("n_tokens").as("n_tokens"),
        f.getField("n_distinct").as("n_distinct"),
        f.getField("dup_ratio").as("dup_ratio"))
    }),
    // benchmark contamination: the "eval set" is a 20-token snippet
    // (tokens 11..30) of every 20th doc; any corpus doc sharing an
    // 8-gram with a snippet is contaminated. Snippet sources must
    // surface themselves; the word-salad corpus makes cross hits rare.
    "contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 11, 20)).as("snippet"))
      Curation.contamination(docs, "doc_id", "text", bench, "snippet", n = 8)
    }),
    // same semantics behind the broadcast-Bloom prefilter: the oracle
    // is the SAME exact-join SQL — blooms admit no false negatives and
    // the verification join kills the false positives, so the bloom
    // path must agree row for row. fpp is deliberately loose (0.05)
    // so the FP-kill layer is actually exercised at sf scale.
    "bloom_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(concat_ws(" ",
          slice(TextAnalysis.tokens(col("text")), 11, 20)).as("snippet"))
      Curation.bloomContamination(docs, "doc_id", "text", bench, "snippet",
        n = 8, fpp = 0.05)
    }),
    // cross-document duplicate spans: fraction of each doc's word
    // 8-gram windows shared with at least one other doc (DuckDB
    // recomputes with string grams; Spark ships 8-byte hashes)
    "dup_spans" -> ((s, d) => Curation.dupSpans(
      t(s, d, "documents"), "doc_id", "text", n = 8)),
    // corpus-wide duplicate-SPAN removal, keep-first (Lee et al.):
    // every repeated 8-gram window keeps only its globally-first
    // occurrence; DuckDB replays with string grams + window functions
    // (the corpus has ~1k duplicated 8-grams / ~2.1k occurrences at
    // sf0.01, so removal genuinely rewrites text)
    "dedup_substring" -> ((s, d) => Curation.removeDupSpans(
      t(s, d, "documents"), "doc_id", "text", n = 8)),

    // BM25 retrieval: queries are the distinct terms 5..9 of every
    // 40th doc; score every doc sharing a term. k1=1.25 / b=0.75 are
    // chosen so every constant is an exact double (1.25+1=2.25,
    // 1-0.75=0.25) — the only inexact steps are ln() and the
    // divisions, identical formulas on both engines, absorbed by
    // round(..., 6) like text_perplexity.
    "bm25_scores" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      Search.bm25Scores(docs, "doc_id", "text", q, "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
    }),
    // top-10 per query, ranked on the ROUNDED score (stable across
    // engines) with doc_id ascending tie-break
    "bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      Search.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext", k = 10)
    }),
    // metadata-filtered retrieval: global BM25 stats, results
    // restricted to lang='en' docs BEFORE ranks are assigned
    "bm25_topk_filtered" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      Search.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 10, docFilter = Some(col("lang") === "en"))
    }),
    // hybrid retrieval: RRF-fuse the BM25 lexical top-20 with the
    // embedding-cosine top-20 (vec_id aligns with doc_id in the
    // fixtures, so this is the real "text rank + vector rank" hybrid);
    // DuckDB recomputes both rankings and the 1/(60+rank) fusion
    "hybrid_rrf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      val lex = Search.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext",
        k = 20).select(col("query_id"), col("doc_id"), col("rank"))
      val e = t(s, d, "embeddings")
      val sem = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") % 40 === 0), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq(lex, sem), k = 10)
    }),
    // conjunctive (AND) retrieval: only docs matching every
    // corpus-present query term rank; DuckDB replays the
    // matched-term-count filter
    "bm25_topk_and" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      Search.bm25TopK(docs, "doc_id", "text", q, "query_id", "qtext", k = 10,
        requireAllTerms = true)
    }),
    // same ranking served from the PERSISTED inverted index (bucket
    // partitions prune statically, terms push into the sorted parquet
    // row groups) — DuckDB recomputes the identical result from the
    // raw text, so the whole index round-trip is hash-exact under the
    // oracle
    "bm25_index_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val q = docs.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Search.termsOf(col("text")), 5, 5)).as("qtext"))
      Search.bm25IndexTopK(s, bm25Index(s, d), q, "query_id", "qtext", k = 10)
    }),

    // REAL codec path under the oracle: deterministic 8x4 P6 images
    // (pixel j of doc i = (i*7+j) % 256) decode through the actual PPM
    // parser; DuckDB recomputes the exact dims and pixel mean.
    "media_decode_ppm" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8, 4)
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate[Byte](w * h * 3)(j => ((id * 7 + j) % 256).toByte)
        Multimodal.MediaRow(id, header ++ px, "image", "ppm")
      }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // REAL animated-GIF frame sampling under the oracle: multi-frame
    // GIFs (per-frame palettes by formula) are frame-walked and every
    // 2nd frame re-encodes as P6; decoding those frames must match
    // DuckDB's closed-form per-frame means
    "media_frames" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val w = 6 + (id % 4).toInt; val h = 3 + (id % 2).toInt
        val r0 = (id % 160).toInt; val g0 = ((3 * id) % 160).toInt
        val b0 = ((7 * id) % 160).toInt
        val nf = 2 + (id % 3).toInt
        val bytes = graft.tools.MediaFixtures.animatedGif(w, h, nf)((f, x, _) =>
          ((r0 + f * 11 + x) << 16) | ((g0 + f * 13 + x) << 8) | (b0 + f * 17 + x))
        Multimodal.MediaRow(id, bytes, "image", "gif")
      }
      val frames = Multimodal.sampleFrames(media, stride = 2)
      val asMedia = frames.map(f =>
        Multimodal.MediaRow(f.doc_id * 100 + f.frame_idx, f.frame, "image", "ppm"))
      Multimodal.decodeImages(asMedia).toDF()
        .select(expr("doc_id div 100").cast("long").as("doc_id"),
          pmod(col("doc_id"), lit(100)).cast("int").as("frame_idx"),
          col("width"), col("height"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // REAL canvas compositing of inter-frame-OPTIMIZED GIFs: the
    // JDK's own GIF encoder (independent LZW) writes a full-screen
    // base frame then 2x2 sub-rect frames whose anti-diagonal is
    // TRANSPARENT — renderable only by real compositing
    // (gifFramesComposited; the fast full-frame path declines). Each
    // later frame replaces exactly 2 base pixels, so every sampled
    // frame's mean is a closed form DuckDB replays.
    "media_frames_composited" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val w = 6 + (id % 4).toInt; val h = 4
        val nf = 2 + (id % 3).toInt
        val base = (((id % 200).toInt) << 16) |
          ((((3 * id) % 200).toInt) << 8) | ((7 * id) % 200).toInt
        val bytes = graft.tools.MediaFixtures.compositedGif(w, h, nf, base)(f =>
          ((((id * 11 + f * 31) % 200).toInt) << 16) |
            ((((id * 13 + f * 37) % 200).toInt) << 8) |
            (((id * 17 + f * 41) % 200).toInt))
        Multimodal.MediaRow(id, bytes, "image", "gif")
      }
      val frames = Multimodal.sampleFrames(media, stride = 2)
      val asMedia = frames.map(f =>
        Multimodal.MediaRow(f.doc_id * 100 + f.frame_idx, f.frame, "image", "ppm"))
      Multimodal.decodeImages(asMedia).toDF()
        .select(expr("doc_id div 100").cast("long").as("doc_id"),
          pmod(col("doc_id"), lit(100)).cast("int").as("frame_idx"),
          col("width"), col("height"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // REAL color-descriptor features from decoded pixels: per-channel
    // 4-bin histograms + means, every value an exact integer ratio
    // DuckDB replays from the planted gradient
    "media_image_features" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val (w, h) = (8, 4)
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate[Byte](w * h * 3)(j => ((id * 7 + j) % 256).toByte)
        Multimodal.MediaRow(id, header ++ px, "image", "ppm")
      }
      Multimodal.imageFeatures(media, bins = 4).toDF()
        .select(col("doc_id"), col("feature_idx"),
          round(col("value"), 6).as("value"))
    }),

    // REAL MJPEG-in-AVI frame sampling gate: every 2nd JPEG chunk of
    // the movi walk must decode to the SAME dims/means as decoding
    // the planted JPEG bytes directly (JPEG is lossy, so the check is
    // decode-vs-decode of identical bytes — exact); the sampled-frame
    // COUNT has a closed form DuckDB recomputes
    "media_avi_frames_gate" -> ((s, d) => {
      import s.implicits._
      def plantJpegs(id: Long): Seq[Array[Byte]] = {
        val nf = 2 + (id % 3).toInt
        val w = 8 + (id % 4).toInt * 2
        (0 until nf).map { f =>
          graft.tools.MediaFixtures.solidJpeg(w, 6,
            ((40 + 20 * f + (id % 8).toInt) << 16) | ((60 + 10 * f) << 8) | 80)
        }
      }
      val docs = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long]
      val media = docs.map { id =>
        Multimodal.MediaRow(id,
          graft.tools.MediaFixtures.mjpegAvi(plantJpegs(id)), "video", "avi")
      }
      // checkpoint: `got` feeds TWO actions (the full-join mismatch
      // count and the sampled-frame count) — uncheckpointed, the whole
      // AVI-synthesize + movi-walk + JPEG-decode pipeline ran TWICE
      // (measured r21: the gate's two heaviest stages, back to back);
      // the verdict jobs then read only checkpointed frames — overlap
      // them (§2.6)
      val got = Multimodal.decodeImages(
        Multimodal.sampleFrames(media, stride = 2).map(f =>
          Multimodal.MediaRow(f.doc_id * 100 + f.frame_idx, f.frame, "image", "ppm")))
        .toDF()
        .select(expr("doc_id div 100").as("doc_id"),
          pmod(col("doc_id"), lit(100)).cast("int").as("frame_idx"),
          col("width"), col("height"), col("mean_intensity"))
        .localCheckpoint(true)
      val want = docs.flatMap { id =>
        plantJpegs(id).zipWithIndex.collect { case (j, f) if f % 2 == 0 =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(j))
          var sum = 0L
          for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
            val p = img.getRGB(x, y)
            sum += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
          }
          (id, f, img.getWidth, img.getHeight,
            sum.toDouble / (img.getWidth.toLong * img.getHeight * 3))
        }
      }.toDF("doc_id", "frame_idx", "w_want", "h_want", "mean_want")
      val vs = graft.core.Par.jobs(s)(
        () => got.join(want, Seq("doc_id", "frame_idx"), "full")
          .filter(col("width").isNull || col("w_want").isNull ||
            col("width") =!= col("w_want") || col("height") =!= col("h_want") ||
            abs(col("mean_intensity") - col("mean_want")) > 1e-9)
          .count(),
        () => got.count())
      s.range(1).select(
        lit(vs(1)).as("n_frames_sampled"),
        lit(vs(0)).as("mismatches"))
    }),

    // REAL resize under the oracle: planted P6 gradients are
    // box-filter downscaled by 2 (floor mean per 2x2 block, exact
    // integer math) and RE-ENCODED as P6; the decode of the resized
    // payload must match DuckDB's replay of the block means — proving
    // decode, filter and re-encode in one pass
    "media_resize" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = 8 + 2 * (id % 4).toInt
        val h = 4 + 2 * (id % 2).toInt
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate[Byte](w * h * 3)(j => ((id * 7 + j) % 256).toByte)
        Multimodal.MediaRow(id, header ++ px, "image", "ppm")
      }
      Multimodal.decodeImages(Multimodal.resizeImages(media, factor = 2)).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // perceptual image hash (dHash) through the REAL P6 pixel path:
    // 9x8 nearest-neighbor grayscale grid, horizontal-neighbor bits;
    // DuckDB recomputes every bit from the planted pixel formula
    "media_dhash" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val (w, h) = (8, 4)
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate[Byte](w * h * 3)(j => ((id * 7 + j) % 256).toByte)
        Multimodal.MediaRow(id, header ++ px, "image", "ppm")
      }
      Multimodal.imageDHash(media).toDF()
        .select(col("doc_id"), col("dhash_bits"))
    }),
    // image near-dup gate: every planted identical copy pairs with its
    // source at hamming 0 through the banded 64-bit pipeline
    "media_dhash_gate" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .flatMap { id =>
          val (w, h) = (8, 4)
          val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
          val px = Array.tabulate[Byte](w * h * 3)(j => ((id * 7 + j) % 256).toByte)
          val row = Multimodal.MediaRow(id, header ++ px, "image", "ppm")
          Seq(row, row.copy(doc_id = id + DupOff))
        }
      val hashes = Multimodal.imageDHash(media).toDF().localCheckpoint(true)
      val undecoded = hashes.filter(length(col("dhash_bits")) === 0).count()
      val pairs = Dedup.hash64NearDups(hashes, "doc_id", "dhash", maxHamming = 2)
      val planted = t(s, d, "documents")
        .select(col("doc_id").as("a"), (col("doc_id") + DupOff).as("b"))
      val missed = planted
        .join(pairs.filter(col("hamming") === 0).select("a", "b"),
          Seq("a", "b"), "left_anti").count()
      s.range(1).select(
        lit(hashes.count()).as("n_imgs"),
        lit(missed).as("planted_missed"),
        lit(undecoded == 0L).as("all_decoded"))
    }),

    // REAL ImageIO path under the oracle: deterministic per-doc PNGs
    // (x-gradient per channel, dims derived from doc_id) are encoded
    // with javax.imageio on the executors, then decoded back through
    // Multimodal.decodeImages; DuckDB recomputes dims and the exact
    // integer pixel sum in closed form. PNG is lossless, so the decoded
    // mean matches the formula bit-exactly.
    "media_decode_png" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val w = 8 + (id % 16).toInt; val h = 4 + (id % 8).toInt
        // channel bases ≤159 and x ≤22 keep every sample <256 (no wrap)
        val r0 = (id % 160).toInt; val g0 = ((3 * id) % 160).toInt
        val b0 = ((7 * id) % 160).toInt
        javax.imageio.ImageIO.setUseCache(false)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((r0 + x) << 16) | ((g0 + x) << 8) | (b0 + x))
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Multimodal.MediaRow(id, out.toByteArray, "image", "png")
      }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),
    // same gradient and closed-form mean as media_decode_png, but the
    // bytes are a baseline TIFF from the pure-Scala tiffRgb writer and
    // the decoder is the JDK's independent ImageIO TIFF reader — the
    // planter and decoder share NO code (unlike the planted-formula
    // oracles), so this doubles as an in-oracle conformance check
    "media_decode_tiff" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val w = 8 + (id % 16).toInt; val h = 4 + (id % 8).toInt
        val r0 = (id % 160).toInt; val g0 = ((3 * id) % 160).toInt
        val b0 = ((7 * id) % 160).toInt
        val bytes = graft.tools.MediaFixtures.tiffRgb(w, h,
          (x, _) => ((r0 + x) << 16) | ((g0 + x) << 8) | (b0 + x))
        Multimodal.MediaRow(id, bytes, "image", "tiff")
      }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // REAL pure-Scala GIF path under the oracle: the same per-doc
    // gradient as media_decode_png, but written as an INDEXED GIF
    // (palette entry x = the column-x color, so the lossy web-safe
    // quantization the JDK writer applies to truecolor input never
    // fires) and decoded through Multimodal.decodeGif (LZW + palette
    // expansion). Same closed-form DuckDB oracle — GIF is lossless for
    // palette images, so the mean matches bit-exactly.
    "media_decode_gif" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val w = 8 + (id % 16).toInt; val h = 4 + (id % 8).toInt
        val r0 = (id % 160).toInt; val g0 = ((3 * id) % 160).toInt
        val b0 = ((7 * id) % 160).toInt
        javax.imageio.ImageIO.setUseCache(false)
        val palette = Array.tabulate(w)(x => ((r0 + x) << 16) | ((g0 + x) << 8) | (b0 + x))
        val icm = new java.awt.image.IndexColorModel(8, palette.length, palette, 0,
          false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, palette(x)); x += 1 }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "gif", out)
        Multimodal.MediaRow(id, out.toByteArray, "image", "gif")
      }
      Multimodal.decodeImages(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
    }),

    // REAL WAV path under the oracle: deterministic per-doc 8-bit PCM
    // (sample j of doc i = (i*13 + j*7) % 256) is RIFF-encoded on the
    // executors and decoded back through Multimodal.decodeAudio; DuckDB
    // recomputes channels/rate/sample-count/duration/mean in closed form.
    // audio difference-fingerprint through the REAL PCM path: 65
    // sample windows, exact integer cross-multiplied loudness bits —
    // DuckDB recomputes all 64 bits from the planted sample formula
    "media_audio_fp" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val frames = 32 + (id % 32).toInt
        val rate = 8000 + (id % 4).toInt * 4000
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def w32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
          out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
        def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write("RIFF".getBytes); w32(36 + n); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); w32(16); w16(1); w16(channels); w32(rate)
        w32(rate * channels); w16(channels); w16(8)
        out.write("data".getBytes); w32(n)
        var j = 0
        while (j < n) { out.write(((id * 13 + j * 7) % 256).toInt); j += 1 }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "wav")
      }
      Multimodal.audioFingerprint(media).toDF()
        .select(col("doc_id"), col("afp_bits"))
    }),
    "media_decode_wav" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val frames = 32 + (id % 32).toInt
        val rate = 8000 + (id % 4).toInt * 4000
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def w32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
          out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
        def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write("RIFF".getBytes); w32(36 + n); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); w32(16); w16(1); w16(channels); w32(rate)
        w32(rate * channels); w16(channels); w16(8)
        out.write("data".getBytes); w32(n)
        var j = 0
        while (j < n) { out.write(((id * 13 + j * 7) % 256).toInt); j += 1 }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "wav")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL audio decimation under the oracle: the planted 8-bit PCM
    // is block-averaged by 2 (floor mean per channel, exact integer
    // math), re-encoded at rate/2, and DECODED back; DuckDB replays
    // every output sample from the planting formula
    "media_wav_resample" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val frames = 32 + (id % 32).toInt
        val rate = 8000 + (id % 4).toInt * 4000
        // bits cycles through ALL FOUR PCM widths: the oracle replays
        // the offset-binary block means at every width, not just 8-bit
        val bits = Seq(8, 16, 24, 32)((id % 4).toInt)
        val bytesPer = bits / 8
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def w32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
          out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
        def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write("RIFF".getBytes); w32(36 + n * bytesPer); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); w32(16); w16(1); w16(channels); w32(rate)
        w32(rate * channels * bytesPer); w16(channels * bytesPer); w16(bits)
        out.write("data".getBytes); w32(n * bytesPer)
        val full = 1L << bits
        var j = 0
        while (j < n) {
          // offset-binary sample value, written at the width's
          // signedness (unsigned 8-bit, signed two's complement wider)
          val v = Math.floorMod(id * 13 + j * 7, full)
          val enc = if (bits == 8) v else v - (full >> 1)
          var b = 0
          while (b < bytesPer) { out.write(((enc >> (8 * b)) & 0xFF).toInt); b += 1 }
          j += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "wav")
      }
      Multimodal.decodeAudio(Multimodal.resampleAudio(media, factor = 2)).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // cross-container decimation through the unified pcmView: AIFF
    // 16-bit BE PCM / AU u-law / WAV a-law inputs (cycled per doc) all
    // decimate in the same offset-binary integer domain and re-encode
    // as PCM WAV; DuckDB replays the G.711 expansions AND the floor
    // block means
    "media_xresample" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val src = (id % 3).toInt // 0 = aiff pcm16, 1 = au ulaw, 2 = wav alaw
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def b32(v: Long): Unit = { out.write(((v >> 24) & 0xFF).toInt)
          out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
          out.write((v & 0xFF).toInt) }
        def b16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
        def le32(v: Long): Unit = { out.write((v & 0xFF).toInt)
          out.write(((v >> 8) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
          out.write(((v >> 24) & 0xFF).toInt) }
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        src match {
          case 0 => // AIFF big-endian PCM16, offset-binary planted
            out.write("FORM".getBytes); b32(4 + 26 + 16 + n * 2)
            out.write("AIFF".getBytes)
            out.write("COMM".getBytes); b32(18); b16(channels); b32(frames.toLong); b16(16)
            var z = 0
            while (((rate.toLong << z) & 0x80000000L) == 0) z += 1
            b16(16383 + (31 - z)); b32(rate.toLong << z); b32(0)
            out.write("SSND".getBytes); b32(8 + n * 2); b32(0); b32(0)
            var j = 0
            while (j < n) {
              b16((Math.floorMod(id * 13 + j * 7, 65536L) - 32768).toInt & 0xFFFF)
              j += 1
            }
          case 1 => // AU u-law
            out.write(".snd".getBytes); b32(24); b32(n.toLong); b32(1)
            b32(rate.toLong); b32(channels.toLong)
            var j = 0
            while (j < n) { out.write(((id * 17 + j * 11) % 256).toInt); j += 1 }
          case _ => // WAV a-law (fmt 6)
            out.write("RIFF".getBytes); le32(36L + n); out.write("WAVE".getBytes)
            out.write("fmt ".getBytes); le32(16); le16(6); le16(channels)
            le32(rate.toLong); le32(rate.toLong * channels); le16(channels); le16(8)
            out.write("data".getBytes); le32(n.toLong)
            var j = 0
            while (j < n) { out.write(((id * 17 + j * 11) % 256).toInt); j += 1 }
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio",
          Seq("aiff", "au", "wav")(src))
      }
      Multimodal.decodeAudio(Multimodal.resampleAudio(media, factor = 2)).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL AVI-header path under the oracle: deterministic avih fields
    // per doc, parsed back by the pure-Scala RIFF scan; DuckDB
    // recomputes every field from the same formulas.
    "media_video_meta" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val usPerFrame = 20000 + (id % 10).toInt * 1000
        val frames = 100 + (id % 100).toInt
        val w = 320 + (id % 8).toInt * 16
        val h = 240 + (id % 4).toInt * 16
        val out = new java.io.ByteArrayOutputStream()
        def w32(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
          out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF) }
        out.write("RIFF".getBytes); w32(4 + 8 + 4 + 8 + 56); out.write("AVI ".getBytes)
        out.write("LIST".getBytes); w32(4 + 8 + 56); out.write("hdrl".getBytes)
        out.write("avih".getBytes); w32(56)
        w32(usPerFrame); w32(0); w32(0); w32(0); w32(frames)
        w32(0); w32(0); w32(0); w32(w); w32(h)
        (0 until 4).foreach(_ => w32(0))
        Multimodal.MediaRow(id, out.toByteArray, "video", "avi")
      }
      Multimodal.videoMeta(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("total_frames"),
          round(col("fps"), 6).as("fps"))
    }),

    // REAL MP3 frame-header walk under the oracle: CBR Layer III
    // streams synthesized per doc (ID3v2 prefix on every 5th doc to
    // exercise the syncsafe skip); DuckDB recomputes bitrate/rate/
    // channel/duration from the same planting formulas
    "media_audio_meta" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val brIdx = 1 + (id % 14).toInt
        val kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx - 1)
        val srIdx = (id % 3).toInt
        val rate = Array(44100, 48000, 32000)(srIdx)
        val mono = id % 2 == 0
        val frames = 5 + (id % 20).toInt
        val frameLen = 144 * kbps * 1000 / rate
        val out = new java.io.ByteArrayOutputStream()
        if (id % 5 == 0) { // ID3v2 header + 10 tag bytes (syncsafe size)
          out.write("ID3".getBytes); out.write(3); out.write(0); out.write(0)
          out.write(0); out.write(0); out.write(0); out.write(10)
          (0 until 10).foreach(_ => out.write(0))
        }
        var f = 0
        while (f < frames) {
          out.write(0xFF); out.write(0xFB) // sync + MPEG1 Layer III, no CRC
          out.write((brIdx << 4) | (srIdx << 2))
          out.write(if (mono) 0xC0 else 0x00)
          var j = 4; while (j < frameLen) { out.write(0); j += 1 }
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.audioMeta(media).toDF()
        .select(col("doc_id"), col("codec"), col("channels"), col("sample_rate"),
          col("bitrate_kbps"), col("n_frames"),
          round(col("duration_ms"), 6).as("duration_ms"))
    }),

    // REAL MPEG-1 Layer I audio decode under the oracle: per doc, a
    // CBR Layer I stream is synthesized with allocations, scalefactor
    // indices and offset-binary sample codes all planted by formulas
    // of (doc_id, frame, granule, subband, channel); the pure-Scala
    // decoder (Multimodal.decodeMp3Layer1) reads them back from the
    // BITS and requantizes per ISO 11172-3, and DuckDB recomputes the
    // identical requantization sum from the planting formulas —
    // mean_level is value-exact, not a smoke check.
    "media_mp3_decode" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val mono = id % 2 == 0
        val channels = if (mono) 1 else 2
        val frames = 2 + (id % 4).toInt
        val kbps = 448; val rate = 32000
        val frameLen = (12 * kbps * 1000 / rate) * 4 // pad=0
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFF.toByte // MPEG1, Layer I, no CRC
          buf(2) = ((14 << 4) | (2 << 2)).toByte // brIdx=14 (448), srIdx=2 (32000)
          buf(3) = (if (mono) 0xC0 else 0x00).toByte
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def alloc(c: Int, sb: Int) = 1 + ((id + sb * 5 + c * 3) % 6).toInt
          for (sb <- 0 until 32; c <- 0 until channels) w(alloc(c, sb), 4)
          for (sb <- 0 until 32; c <- 0 until channels)
            w(((id * 7 + sb * 5 + c * 11) % 63).toInt, 6)
          for (g <- 0 until 12; sb <- 0 until 32; c <- 0 until channels) {
            val nb = alloc(c, sb) + 1
            w(((id * 31 + f * 29 + g * 17 + sb * 13 + c * 19) % (1L << nb)).toInt, nb)
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL AIFF decode: FORM/COMM/SSND walk with the 80-bit extended
    // sample rate decoded by formula, big-endian SIGNED PCM at all
    // four widths (cycled per doc); DuckDB replays the offset-binary
    // mean from the planting formulas
    "media_aiff_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = Seq(8000, 11025, 22050, 44100)((id % 4).toInt)
        val bits = Seq(8, 16, 24, 32)((id % 4).toInt)
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val bytesPer = bits / 8
        val out = new java.io.ByteArrayOutputStream()
        def b32(v: Long): Unit = { out.write(((v >> 24) & 0xFF).toInt)
          out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
          out.write((v & 0xFF).toInt) }
        def b16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
        out.write("FORM".getBytes); b32(4 + 26 + 16 + n * bytesPer)
        out.write("AIFF".getBytes)
        out.write("COMM".getBytes); b32(18)
        b16(channels); b32(frames.toLong); b16(bits)
        // 80-bit extended: normalize rate into [2^31, 2^32)
        var z = 0
        while (((rate.toLong << z) & 0x80000000L) == 0) z += 1
        b16(16383 + (31 - z)); b32(rate.toLong << z); b32(0)
        out.write("SSND".getBytes); b32(8 + n * bytesPer); b32(0); b32(0)
        val full = 1L << bits
        var j = 0
        while (j < n) {
          val signed = Math.floorMod(id * 13 + j * 7, full) - (full >> 1)
          var b = bytesPer - 1
          while (b >= 0) { out.write(((signed >> (8 * b)) & 0xFF).toInt); b -= 1 }
          j += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "aiff")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL Sun/NeXT AU decode: big-endian header + signed PCM at all
    // widths AND G.711 u-law expanded by the published segment
    // formula — DuckDB replays the exact expansion arithmetic
    "media_au_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val enc = Seq(2, 3, 4, 5, 1)((id % 5).toInt) // s8..s32, then u-law
        val bytesPer = Seq(1, 2, 3, 4, 1)((id % 5).toInt)
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def b32(v: Long): Unit = { out.write(((v >> 24) & 0xFF).toInt)
          out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
          out.write((v & 0xFF).toInt) }
        out.write(".snd".getBytes); b32(24); b32(n.toLong * bytesPer)
        b32(enc.toLong); b32(rate.toLong); b32(channels.toLong)
        var j = 0
        while (j < n) {
          if (enc == 1) out.write(((id * 17 + j * 11) % 256).toInt)
          else {
            val bits = bytesPer * 8
            val full = 1L << bits
            val signed = Math.floorMod(id * 13 + j * 7, full) - (full >> 1)
            var b = bytesPer - 1
            while (b >= 0) { out.write(((signed >> (8 * b)) & 0xFF).toInt); b -= 1 }
          }
          j += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "au")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL G.711 WAV decode (WAVE fmt codes 7 µ-law / 6 A-law,
    // alternating per doc): the decoder expands each byte to 16-bit
    // linear by the published segment/mantissa formulas; DuckDB
    // replays BOTH expansions arithmetically
    "media_wav_g711" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val fmt = if (id % 2 == 0) 7 else 6 // u-law / a-law
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def le32(v: Long): Unit = { out.write((v & 0xFF).toInt)
          out.write(((v >> 8) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
          out.write(((v >> 24) & 0xFF).toInt) }
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write("RIFF".getBytes); le32(36L + n); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); le32(16)
        le16(fmt); le16(channels); le32(rate.toLong)
        le32(rate.toLong * channels); le16(channels); le16(8)
        out.write("data".getBytes); le32(n.toLong)
        var j = 0
        while (j < n) { out.write(((id * 17 + j * 11) % 256).toInt); j += 1 }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "wav")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL IEEE-float WAV decode (fmt code 3 at 32/64-bit, cycled per
    // doc): samples are the DYADIC values k/256 - 0.5 (exact in f32,
    // f64, and DuckDB's doubles), so the replay is value-exact
    "media_wav_float" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = 8000 + (id % 3).toInt * 4000
        val bits = if (id % 2 == 0) 32 else 64
        val bytesPer = bits / 8
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def le32(v: Long): Unit = { out.write((v & 0xFF).toInt)
          out.write(((v >> 8) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
          out.write(((v >> 24) & 0xFF).toInt) }
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write("RIFF".getBytes); le32(36L + n * bytesPer); out.write("WAVE".getBytes)
        out.write("fmt ".getBytes); le32(16)
        le16(3); le16(channels); le32(rate.toLong)
        le32(rate.toLong * channels * bytesPer); le16(channels * bytesPer); le16(bits)
        out.write("data".getBytes); le32(n.toLong * bytesPer)
        var j = 0
        while (j < n) {
          val v = ((id * 13 + j * 7) % 256) / 256.0 - 0.5
          if (bits == 32) le32(java.lang.Float.floatToIntBits(v.toFloat) & 0xFFFFFFFFL)
          else { val b = java.lang.Double.doubleToLongBits(v)
            le32(b & 0xFFFFFFFFL); le32(b >>> 32) }
          j += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "wav")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL AIFF-C compressed-variant decode, codec cycled per doc:
    // sowt (byte-swapped LE16 PCM), G.711 ulaw/alaw, fl32 (big-endian
    // IEEE float) — every variant formula-decodable, every sample
    // replayed by DuckDB
    "media_aifc_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val channels = 1 + (id % 2).toInt
        val rate = Seq(8000, 11025, 22050, 44100)((id % 4).toInt)
        val codec = Seq("sowt", "ulaw", "alaw", "fl32")((id % 4).toInt)
        val bytesPer = Seq(2, 1, 1, 4)((id % 4).toInt)
        val frames = 16 + (id % 16).toInt
        val n = frames * channels
        val out = new java.io.ByteArrayOutputStream()
        def b32(v: Long): Unit = { out.write(((v >> 24) & 0xFF).toInt)
          out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
          out.write((v & 0xFF).toInt) }
        def b16(v: Int): Unit = { out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
        out.write("FORM".getBytes); b32(4 + 32 + 16 + n * bytesPer)
        out.write("AIFC".getBytes)
        out.write("COMM".getBytes); b32(24)
        b16(channels); b32(frames.toLong); b16(bytesPer * 8)
        var z = 0
        while (((rate.toLong << z) & 0x80000000L) == 0) z += 1
        b16(16383 + (31 - z)); b32(rate.toLong << z); b32(0)
        out.write(codec.getBytes); b16(0) // empty pstring pad
        out.write("SSND".getBytes); b32(8 + n * bytesPer); b32(0); b32(0)
        var j = 0
        while (j < n) {
          codec match {
            case "sowt" =>
              val signed = Math.floorMod(id * 13 + j * 7, 65536L) - 32768
              out.write((signed & 0xFF).toInt); out.write(((signed >> 8) & 0xFF).toInt)
            case "ulaw" | "alaw" => out.write(((id * 17 + j * 11) % 256).toInt)
            case _ =>
              val v = ((id * 13 + j * 7) % 256) / 256.0 - 0.5
              b32(java.lang.Float.floatToIntBits(v.toFloat) & 0xFFFFFFFFL)
          }
          j += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "aifc")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL AAC-LC (ADTS) decode in the documented ZERO-codebook
    // subset: full header + raw_data_block syntax parse (SCE long /
    // common-window CPE eight-short with window grouping and an MS
    // mask), accepted only when every section is ZERO_HCB — silence,
    // whose 1024 zero samples per channel are sample-exact WITHOUT the
    // spectral Huffman codebooks (which cannot be fixture-verified in
    // this environment; see fixtures README). The oracle pins the
    // layout math; the syntax walk is pinned bit-level by
    // MultimodalSpec (incl. decline on any nonzero codebook).
    "media_aac_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val mono = id % 2 == 0
        val frames = 2 + (id % 4).toInt
        val sfi = 3 + (id % 3).toInt // 48000 / 44100 / 32000
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val maxSfb =
            if (mono) 1 + ((id + f) % 30).toInt else 1 + ((id + f) % 6).toInt
          out.write(graft.tools.MediaFixtures.adtsFrame(sfi, if (mono) 1 else 2,
            graft.tools.MediaFixtures.aacSilenceRawFrame(mono, maxSfb)))
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "aac")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL AAC-IN-MP4 decode: the same zero-codebook silence frames as
    // media_aac_decode, but carried as RAW access units (no ADTS in
    // the file) inside an ISO-BMFF tree with an mp4a sample entry and
    // an esds descriptor chain — the decoder must parse the
    // AudioSpecificConfig out of esds, resolve samples via
    // stsz/stsc/stco and synthesize the ADTS transport itself.
    "media_mp4_aac_decode" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val mono = id % 2 == 0
        val frames = 2 + (id % 4).toInt
        val sfi = 3 + (id % 3).toInt
        val bytes = graft.tools.MediaFixtures.mp4Aac(sfi,
          if (mono) 1 else 2,
          (0 until frames).map { f =>
            val maxSfb =
              if (mono) 1 + ((id + f) % 30).toInt else 1 + ((id + f) % 6).toInt
            graft.tools.MediaFixtures.aacSilenceRawFrame(mono, maxSfb)
          })
        Multimodal.MediaRow(id, bytes, "audio", "mp4")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL MPEG-1 Layer II decode under the oracle: CBR Layer II
    // frames (Table B.2a selected by 384 kbps / 48 kHz) with
    // allocation indices, scfsi modes, scalefactor indices and sample
    // codes all planted by formulas of (doc_id, frame, granule,
    // subband, channel); the decoder (Multimodal.decodeMp3Layer2)
    // reads the allocation-ladder fields, scfsi-shared scalefactors
    // and GROUPED 3/5-step triplet codes back from the BITS, and
    // DuckDB recomputes the identical requantization sum from the
    // planting formulas — mean_level is value-exact.
    "media_mp3_decode_l2" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val mono = id % 2 == 0
        val channels = if (mono) 1 else 2
        val frames = 2 + (id % 3).toInt
        val frameLen = 144 * 384 * 1000 / 48000 // pad=0
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFD.toByte // MPEG1, Layer II, no CRC
          buf(2) = ((14 << 4) | (1 << 2)).toByte // brIdx=14 (384), srIdx=1 (48000)
          buf(3) = (if (mono) 0xC0 else 0x00).toByte
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def ai(c: Int, sb: Int) =
            1 + ((id + sb * 5 + c * 3) % (if (sb >= 23) 2 else 3)).toInt
          def steps(c: Int, sb: Int) =
            if (sb < 3) Array(3, 7, 15)(ai(c, sb) - 1)
            else if (sb < 23) Array(3, 5, 7)(ai(c, sb) - 1)
            else Array(3, 5)(ai(c, sb) - 1)
          def scfsi(c: Int, sb: Int) = ((id + sb + c) % 4).toInt
          def sfIdx(c: Int, sb: Int, tr: Int) =
            ((id * 7 + sb * 5 + c * 11 + tr * 3) % 63).toInt
          for (sb <- 0 until 27; c <- 0 until channels)
            w(ai(c, sb), if (sb < 11) 4 else if (sb < 23) 3 else 2)
          for (sb <- 0 until 27; c <- 0 until channels) w(scfsi(c, sb), 2)
          for (sb <- 0 until 27; c <- 0 until channels) {
            val n = Array(3, 2, 1, 2)(scfsi(c, sb))
            for (tr <- 0 until n) w(sfIdx(c, sb, tr), 6)
          }
          for (g <- 0 until 12; sb <- 0 until 27; c <- 0 until channels) {
            val st = steps(c, sb)
            val raw = id * 31 + f * 29 + g * 17 + sb * 13 + c * 19
            if (st == 3 || st == 5)
              w((raw % (st * st * st)).toInt, if (st == 3) 5 else 7)
            else {
              val nb = 32 - Integer.numberOfLeadingZeros(st)
              for (k <- 0 until 3) w(((raw + k * 23) % st).toInt, nb)
            }
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL MPEG-1 Layer III decode under the oracle: CBR frames
    // (320 kbps / 48 kHz, long blocks) whose side info (big_values,
    // global_gain, scalefac_compress=9, scalefac_scale, region/table
    // selects), scalefactors, Huffman-table-1 big-value pairs with
    // sign bits, and count1 table-B quadruples are ALL planted by
    // formulas of (doc_id, frame, granule, channel, position); the
    // decoder (Multimodal.decodeMp3Layer3) walks side info, reads the
    // scalefactors and Huffman codes back from the bits, and applies
    // the spec requantization |is|^(4/3) * 2^((gg-210)/4 - mult*sf);
    // DuckDB recomputes the identical spectral sum from the planting
    // formulas — mean_level is value-exact. part2_3_length is the
    // plant's own bit count, so the decoder's per-granule bound and
    // count1 termination are exercised for real.
    "media_mp3_decode_l3" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val mono = id % 2 == 0
        val channels = if (mono) 1 else 2
        val frames = 2 + (id % 3).toInt
        val frameLen = 144 * 320 * 1000 / 48000 // 960, pad=0
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFB.toByte // MPEG1, Layer III, no CRC
          buf(2) = ((14 << 4) | (1 << 2)).toByte // 320 kbps, 48000 Hz
          buf(3) = (if (mono) 0xC0 else 0x00).toByte
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def gg(gr: Int, c: Int) = 140 + ((id * 7 + f * 3 + gr * 13 + c * 29) % 64).toInt
          def sfScale(gr: Int, c: Int) = ((id + gr + c) % 2).toInt
          def nQuads(gr: Int, c: Int) = ((id + f + gr + c) % 3).toInt
          def rawPair(gr: Int, c: Int, p: Int) =
            id * 31 + f * 29 + gr * 17 + p * 13 + c * 19
          def rawQuad(gr: Int, c: Int, q: Int) =
            id * 37 + f * 41 + gr * 43 + q * 53 + c * 47
          // Huffman bits for (granule, channel): 18 table-1 pairs +
          // nQuads table-B quadruples; sf bits = 21 * 2 (slen 2/2)
          def huffBits(gr: Int, c: Int): Int = {
            var n = 0
            for (p <- 0 until 18) {
              val raw = rawPair(gr, c, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              n += (if (x == 0 && y == 0) 1
                    else if (x == 1 && y == 0) 3
                    else if (x == 0 && y == 1) 4 else 5)
            }
            for (q <- 0 until nQuads(gr, c)) {
              val raw = rawQuad(gr, c, q)
              n += 4 + Integer.bitCount((raw % 16).toInt)
            }
            n
          }
          // side info: main_data_begin=0, private, scfsi=0, then per
          // (granule, channel) the fixed field chain
          w(0, 9); w(0, if (mono) 5 else 3)
          for (_ <- 0 until channels * 4) w(0, 1)
          for (gr <- 0 until 2; c <- 0 until channels) {
            w(42 + huffBits(gr, c), 12) // part2_3_length
            w(18, 9)                    // big_values (pairs)
            w(gg(gr, c), 8)
            w(9, 4)                     // scalefac_compress -> slen (2,2)
            w(0, 1)                     // long blocks
            w(1, 5); w(1, 5); w(1, 5)   // table_select: Huffman table 1
            w(3, 4); w(3, 3)            // region0/region1 counts
            w(0, 1)                     // preflag
            w(sfScale(gr, c), 1)
            w(1, 1)                     // count1 table B
          }
          // main data: per (granule, channel): scalefactors then codes
          for (gr <- 0 until 2; c <- 0 until channels) {
            for (s <- 0 until 21)
              w(((id * 3 + gr * 5 + c * 7 + s * 11) % 4).toInt, 2)
            for (p <- 0 until 18) {
              val raw = rawPair(gr, c, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              if (x == 0 && y == 0) w(1, 1)
              else if (x == 1 && y == 0) { w(1, 2); w(((raw >> 2) % 2).toInt, 1) }
              else if (x == 0 && y == 1) { w(1, 3); w(((raw >> 3) % 2).toInt, 1) }
              else { w(0, 3); w(((raw >> 2) % 2).toInt, 1); w(((raw >> 3) % 2).toInt, 1) }
            }
            for (q <- 0 until nQuads(gr, c)) {
              val raw = rawQuad(gr, c, q)
              val quad = (raw % 16).toInt // bits: v=LSB? spec order v,w,x,y MSB-first
              // value bits in transmission order (v,w,x,y) = bits 3..0
              w(quad ^ 0xF, 4) // table B codeword = one's complement
              var k = 3
              while (k >= 0) {
                if (((quad >> k) & 1) == 1) w(((raw >> (4 + k)) % 2).toInt, 1)
                k -= 1
              }
            }
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL Layer III INTENSITY-STEREO decode under the oracle: joint
    // stereo with mode_extension 3 (intensity + MS). The right channel
    // carries 6 table-1 (1,1) pairs (rzero = 12 exactly), so bands 0-2
    // MS-decode from both spectra while bands >= 3 (the intensity
    // region) split the LEFT spectrum by tan(is_pos*pi/12) with is_pos
    // read from the RIGHT channel's scalefactors — value-sensitive
    // because an is_pos of 7 falls back to MS and scales the band's
    // contribution by sqrt(2), so wrong is_pos handling moves the
    // mean. DuckDB replays every line.
    "media_mp3_decode_l3i" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val frames = 2 + (id % 3).toInt
        val frameLen = 144 * 320 * 1000 / 48000
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFB.toByte
          buf(2) = ((14 << 4) | (1 << 2)).toByte // 320 kbps, 48000 Hz
          buf(3) = 0x70.toByte // joint stereo, mode_extension 3
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def gg(gr: Int, c: Int) = 140 + ((id * 7 + f * 3 + gr * 13 + c * 29) % 64).toInt
          def sfScale(gr: Int, c: Int) = ((id + gr + c) % 2).toInt
          def sfL(gr: Int, s2: Int) = ((id * 3 + gr * 5 + s2 * 11) % 8).toInt
          def sfR(gr: Int, s2: Int) = ((id + gr * 7 + s2 * 3) % 8).toInt
          def rawPair(gr: Int, c: Int, p: Int) =
            id * 31 + f * 29 + gr * 17 + p * 13 + c * 19
          def huffBitsL(gr: Int): Int = {
            var n = 0
            for (p <- 0 until 18) {
              val raw = rawPair(gr, 0, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              n += (if (x == 0 && y == 0) 1
                    else if (x == 1 && y == 0) 3
                    else if (x == 0 && y == 1) 4 else 5)
            }
            n
          }
          // side info: stereo layout, scfsi 0
          w(0, 9); w(0, 3)
          for (_ <- 0 until 8) w(0, 1)
          for (gr <- 0 until 2; c <- 0 until 2) {
            val huff = if (c == 0) huffBitsL(gr) else 6 * 5 // right: 6 x (1,1)
            w(63 + huff, 12)            // part2_3_length (21 x 3-bit sf)
            w(if (c == 0) 18 else 6, 9) // big_values
            w(gg(gr, c), 8)
            w(13, 4)                    // scalefac_compress -> slen (3,3)
            w(0, 1)                     // long blocks
            w(1, 5); w(1, 5); w(1, 5)   // table 1 everywhere
            w(3, 4); w(3, 3)
            w(0, 1)                     // preflag
            w(sfScale(gr, c), 1)
            w(1, 1)                     // count1 table B (unused: 0 quads)
          }
          // main data
          for (gr <- 0 until 2; c <- 0 until 2) {
            for (s2 <- 0 until 21)
              w(if (c == 0) sfL(gr, s2) else sfR(gr, s2), 3)
            if (c == 0) {
              for (p <- 0 until 18) {
                val raw = rawPair(gr, 0, p)
                val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
                if (x == 0 && y == 0) w(1, 1)
                else if (x == 1 && y == 0) { w(1, 2); w(((raw >> 2) % 2).toInt, 1) }
                else if (x == 0 && y == 1) { w(1, 3); w(((raw >> 3) % 2).toInt, 1) }
                else { w(0, 3); w(((raw >> 2) % 2).toInt, 1); w(((raw >> 3) % 2).toInt, 1) }
              }
            } else {
              for (p <- 0 until 6) { // (1,1) pairs: code 000 + two signs
                val raw = rawPair(gr, 1, p)
                w(0, 3); w(((raw >> 2) % 2).toInt, 1); w(((raw >> 3) % 2).toInt, 1)
              }
            }
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL Layer III SHORT-BLOCK + MS-STEREO decode under the oracle:
    // every granule is window-switched (block_type 2) with per-window
    // scalefactors and subblock gains, and the frame is MS joint
    // stereo, so the decoder must reconstruct l/r = (m+-s)/sqrt2 from
    // both channels' SIGNED spectra; DuckDB replays the planting
    // formulas per spectral line (win = (line%12)/4, sfb = line/12 in
    // the 48 kHz short-band layout)
    "media_mp3_decode_l3s" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val channels = 2
        val frames = 2 + (id % 2).toInt
        val frameLen = 144 * 320 * 1000 / 48000 // 960, pad=0
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFB.toByte // MPEG1, Layer III, no CRC
          buf(2) = ((14 << 4) | (1 << 2)).toByte // 320 kbps, 48000 Hz
          buf(3) = ((1 << 6) | (2 << 4)).toByte  // joint stereo, MS only
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def gg(gr: Int, c: Int) = 140 + ((id * 7 + f * 3 + gr * 13 + c * 29) % 64).toInt
          def sfScale(gr: Int, c: Int) = ((id + gr + c) % 2).toInt
          def sbg(gr: Int, c: Int, win: Int) = ((id + gr * 2 + c * 3 + win * 5) % 3).toInt
          def nQuads(gr: Int, c: Int) = ((id + f + gr + c) % 3).toInt
          def rawPair(gr: Int, c: Int, p: Int) =
            id * 31 + f * 29 + gr * 17 + p * 13 + c * 19
          def rawQuad(gr: Int, c: Int, q: Int) =
            id * 37 + f * 41 + gr * 43 + q * 53 + c * 47
          def huffBits(gr: Int, c: Int): Int = {
            var n = 0
            for (p <- 0 until 18) {
              val raw = rawPair(gr, c, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              n += (if (x == 0 && y == 0) 1
                    else if (x == 1 && y == 0) 3
                    else if (x == 0 && y == 1) 4 else 5)
            }
            for (q <- 0 until nQuads(gr, c)) {
              val raw = rawQuad(gr, c, q)
              n += 4 + Integer.bitCount((raw % 16).toInt)
            }
            n
          }
          // side info: main_data_begin=0, private, scfsi=0, then per
          // (granule, channel) the window-switching field chain
          w(0, 9); w(0, 3)
          for (_ <- 0 until channels * 4) w(0, 1)
          for (gr <- 0 until 2; c <- 0 until channels) {
            // short scalefactors: 12 sfb x 3 windows x 2 bits
            w(72 + huffBits(gr, c), 12) // part2_3_length
            w(18, 9)                    // big_values (pairs)
            w(gg(gr, c), 8)
            w(9, 4)                     // scalefac_compress -> slen (2,2)
            w(1, 1)                     // window_switching_flag
            w(2, 2)                     // block_type: short
            w(0, 1)                     // mixed_block_flag
            w(1, 5); w(1, 5)            // table_select x2: Huffman table 1
            for (win <- 0 until 3) w(sbg(gr, c, win), 3)
            w(0, 1)                     // preflag
            w(sfScale(gr, c), 1)
            w(1, 1)                     // count1 table B
          }
          // main data: per (granule, channel): short scalefactors
          // (sfb-major, window-minor — the decoder's read order) then codes
          for (gr <- 0 until 2; c <- 0 until channels) {
            for (sb <- 0 until 12; win <- 0 until 3)
              w(((id * 3 + gr * 5 + c * 7 + win * 11 + sb * 13) % 4).toInt, 2)
            for (p <- 0 until 18) {
              val raw = rawPair(gr, c, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              if (x == 0 && y == 0) w(1, 1)
              else if (x == 1 && y == 0) { w(1, 2); w(((raw >> 2) % 2).toInt, 1) }
              else if (x == 0 && y == 1) { w(1, 3); w(((raw >> 3) % 2).toInt, 1) }
              else { w(0, 3); w(((raw >> 2) % 2).toInt, 1); w(((raw >> 3) % 2).toInt, 1) }
            }
            for (q <- 0 until nQuads(gr, c)) {
              val raw = rawQuad(gr, c, q)
              val quad = (raw % 16).toInt
              w(quad ^ 0xF, 4) // table B codeword = one's complement
              var k = 3
              while (k >= 0) {
                if (((quad >> k) & 1) == 1) w(((raw >> (4 + k)) % 2).toInt, 1)
                k -= 1
              }
            }
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL Layer III MIXED-BLOCK decode under the oracle: every
    // granule is window-switched block_type 2 with mixed_block_flag
    // set — lines 0..35 decode through the LONG path (long
    // scalefactor bands 0-7), lines 36+ through the SHORT path
    // (per-window scalefactors + subblock gains) — and the planted
    // big_values/count1 regions land exactly on that 36-line split
    "media_mp3_decode_l3m" -> ((s, d) => {
      import s.implicits._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val frames = 2 + (id % 2).toInt
        val frameLen = 144 * 320 * 1000 / 48000 // 960, pad=0
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames) {
          val buf = new Array[Byte](frameLen)
          buf(0) = 0xFF.toByte
          buf(1) = 0xFB.toByte // MPEG1, Layer III, no CRC
          buf(2) = ((14 << 4) | (1 << 2)).toByte // 320 kbps, 48000 Hz
          buf(3) = 0xC0.toByte // mono
          var bit = 32
          def w(v: Int, n: Int): Unit = {
            var r = n - 1
            while (r >= 0) {
              if (((v >> r) & 1) == 1) buf(bit >> 3) =
                (buf(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
              bit += 1; r -= 1
            }
          }
          def gg(gr: Int) = 140 + ((id * 7 + f * 3 + gr * 13) % 64).toInt
          def sfScale(gr: Int) = ((id + gr) % 2).toInt
          def sbg(gr: Int, win: Int) = ((id + gr * 2 + win * 5) % 3).toInt
          def nQuads(gr: Int) = ((id + f + gr) % 3).toInt
          def rawPair(gr: Int, p: Int) = id * 31 + f * 29 + gr * 17 + p * 13
          def rawQuad(gr: Int, q: Int) = id * 37 + f * 41 + gr * 43 + q * 53
          def huffBits(gr: Int): Int = {
            var n = 0
            for (p <- 0 until 18) {
              val raw = rawPair(gr, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              n += (if (x == 0 && y == 0) 1
                    else if (x == 1 && y == 0) 3
                    else if (x == 0 && y == 1) 4 else 5)
            }
            for (q <- 0 until nQuads(gr)) {
              val raw = rawQuad(gr, q)
              n += 4 + Integer.bitCount((raw % 16).toInt)
            }
            n
          }
          // side info (mono): main_data_begin=0, private 5, scfsi 4
          w(0, 9); w(0, 5)
          for (_ <- 0 until 4) w(0, 1)
          for (gr <- 0 until 2) {
            // mixed sf bits: long sfb 0-7 x slen1(2) + short sfb 3-11
            // x 3 windows x 2 = 16 + 54 = 70
            w(70 + huffBits(gr), 12) // part2_3_length
            w(18, 9)                 // big_values -> lines 0..35, all long
            w(gg(gr), 8)
            w(9, 4)                  // scalefac_compress -> slen (2,2)
            w(1, 1)                  // window_switching_flag
            w(2, 2)                  // block_type: short
            w(1, 1)                  // mixed_block_flag
            w(1, 5); w(1, 5)         // table_select x2: Huffman table 1
            for (win <- 0 until 3) w(sbg(gr, win), 3)
            w(0, 1)                  // preflag (pretab is 0 below sfb 11 anyway)
            w(sfScale(gr), 1)
            w(1, 1)                  // count1 table B
          }
          // main data per granule: long sf 0-7, short sf (sfb-major,
          // window-minor, sfb 3-11), then codes
          for (gr <- 0 until 2) {
            for (s <- 0 until 8)
              w(((id * 3 + gr * 5 + s * 7) % 4).toInt, 2)
            for (s <- 3 until 12; win <- 0 until 3)
              w(((id * 3 + gr * 5 + win * 11 + s * 13) % 4).toInt, 2)
            for (p <- 0 until 18) {
              val raw = rawPair(gr, p)
              val x = (raw % 2).toInt; val y = ((raw >> 1) % 2).toInt
              if (x == 0 && y == 0) w(1, 1)
              else if (x == 1 && y == 0) { w(1, 2); w(((raw >> 2) % 2).toInt, 1) }
              else if (x == 0 && y == 1) { w(1, 3); w(((raw >> 3) % 2).toInt, 1) }
              else { w(0, 3); w(((raw >> 2) % 2).toInt, 1); w(((raw >> 3) % 2).toInt, 1) }
            }
            for (q <- 0 until nQuads(gr)) {
              val raw = rawQuad(gr, q)
              val quad = (raw % 16).toInt
              w(quad ^ 0xF, 4)
              var k = 3
              while (k >= 0) {
                if (((quad >> k) & 1) == 1) w(((raw >> (4 + k)) % 2).toInt, 1)
                k -= 1
              }
            }
          }
          out.write(buf)
          f += 1
        }
        Multimodal.MediaRow(id, out.toByteArray, "audio", "mp3")
      }
      Multimodal.decodeAudio(media).toDF()
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 6).as("duration_ms"),
          round(col("mean_level"), 6).as("mean_level"))
    }),

    // REAL H.264 I_PCM decode under the oracle: per doc a spec-valid
    // Annex-B stream (SPS + PPS + one IDR slice per frame, every
    // macroblock I_PCM with formula-planted luma) written through the
    // SHARED Exp-Golomb writer (tools.MediaFixtures — the same bytes
    // the spec's fixtures produce) with emulation-prevention
    // insertion; DuckDB recomputes dims from the SPS fields and the
    // luma mean from the planting formula
    "media_h264_decode" -> ((s, d) => {
      import s.implicits._
      import graft.tools.MediaFixtures._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val wMbs = 1 + (id % 3).toInt
        val hMbs = 1 + (id % 2).toInt
        val frames = 1 + (id % 2).toInt
        val out = new java.io.ByteArrayOutputStream()
        h264Nal(out, 3, 7)(h264Sps(_, wMbs, hMbs))
        h264Nal(out, 3, 8)(h264Pps(_))
        for (f <- 0 until frames) {
          h264Nal(out, 3, 5) { w =>
            h264IdrSliceHeader(w, 0, idrPicId = f)
            for (m <- 0 until wMbs * hMbs)
              h264IpcmMb(w, k => 16 + ((id * 7 + f * 11 + m * 13 + k * 17) % 220).toInt)
          }
        }
        graft.ops.Multimodal.MediaRow(id, out.toByteArray, "video", "h264")
      }
      graft.ops.Multimodal.h264Decode(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("n_mbs"), round(col("mean_luma"), 6).as("mean_luma"),
          col("profile_idc"), col("level_idc"))
    }),

    // REAL H.264-IN-MP4 decode: the same planted I_PCM slices as
    // media_h264_decode, but carried as length-prefixed AVC samples
    // inside a real ISO-BMFF tree (avcC parameter sets, per-sample
    // stsz, a TWO-RUN stsc, absolute stco offsets) — the decoder must
    // walk moov/stbl structure, rebuild Annex-B and decode. Same
    // closed-form output as the elementary-stream oracle.
    "media_mp4_h264_decode" -> ((s, d) => {
      import s.implicits._
      import graft.tools.MediaFixtures._
      val media = graft.ops.Widen.forHeavyRows(
        t(s, d, "documents").select(col("doc_id"))).as[Long].map { id =>
        val wMbs = 1 + (id % 3).toInt
        val hMbs = 1 + (id % 2).toInt
        val frames = 1 + (id % 2).toInt
        val sps = h264RawNal(3, 7)(h264Sps(_, wMbs, hMbs))
        val pps = h264RawNal(3, 8)(h264Pps(_))
        val slices = (0 until frames).map { f =>
          h264RawNal(3, 5) { w =>
            h264IdrSliceHeader(w, 0, idrPicId = f)
            for (m <- 0 until wMbs * hMbs)
              h264IpcmMb(w, k => 16 + ((id * 7 + f * 11 + m * 13 + k * 17) % 220).toInt)
          }
        }
        // vary the NAL length-size field too (2 and 4 both legal)
        val bytes = mp4Avc(sps, pps, slices,
          lengthSize = if (id % 2 == 0) 4 else 2)
        Multimodal.MediaRow(id, bytes, "video", "mp4")
      }
      Multimodal.h264Decode(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("n_mbs"), round(col("mean_luma"), 6).as("mean_luma"),
          col("profile_idc"), col("level_idc"))
    }),

    // REAL ISO-BMFF box walk under the oracle: minimal ftyp+moov
    // (mvhd + video tkhd + optional dimension-less audio trak) per doc;
    // duration/timescale/dims recomputed by DuckDB from the formulas
    "media_mp4_meta" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val timescale = 1000 + (id % 10).toInt * 100
        val duration = 5000 + (id % 50).toInt * 10
        val w = 640 + (id % 8).toInt * 16
        val h = 360 + (id % 4).toInt * 16
        val audioTrak = id % 2 == 1
        val out = new java.io.ByteArrayOutputStream()
        def be32(v: Int): Unit = { out.write((v >> 24) & 0xFF); out.write((v >> 16) & 0xFF)
          out.write((v >> 8) & 0xFF); out.write(v & 0xFF) }
        def box(name: String, payloadLen: Int): Unit = {
          be32(8 + payloadLen); out.write(name.getBytes("ISO-8859-1"))
        }
        def tkhd(tw: Int, th: Int): Unit = { // v0 tkhd: 84-byte payload
          box("trak", 92)
          box("tkhd", 84)
          (0 until 19).foreach(_ => be32(0)) // vf..matrix (76 bytes)
          be32(tw << 16); be32(th << 16)     // 16.16 fixed width/height
        }
        box("ftyp", 8); out.write("isom".getBytes); be32(0)
        val moovPayload = 108 + 100 + (if (audioTrak) 100 else 0)
        box("moov", moovPayload)
        box("mvhd", 100) // v0 mvhd: 100-byte payload
        be32(0); be32(0); be32(0)            // vf, ctime, mtime
        be32(timescale); be32(duration)
        (0 until 20).foreach(_ => be32(0))   // rate..next_track_id
        tkhd(w, h)
        if (audioTrak) tkhd(0, 0)
        Multimodal.MediaRow(id, out.toByteArray, "video", "mp4")
      }
      Multimodal.mp4MetaRows(media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("timescale"), col("n_tracks"))
    }),

    // --- multimodal plumbing (stub codec for audio, real batch shape) ---
    "media_decode" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(
        col("doc_id"), encode(col("text"), "UTF-8").as("content"),
        lit("image").as("media_type"), lit("png").as("format"))
        .as[graft.ops.Multimodal.MediaRow]
      graft.ops.Multimodal.decodeImages(media).toDF()
        .withColumn("mean_intensity", round(col("mean_intensity"), 6))
    }),
    "media_features" -> ((s, d) => {
      import s.implicits._
      val media = t(s, d, "documents").select(
        col("doc_id"), encode(col("text"), "UTF-8").as("content"),
        lit("audio").as("media_type"), lit("wav").as("format"))
        .as[graft.ops.Multimodal.MediaRow]
      // exploded (doc_id, feature_idx, value) rows: driver-comparable
      // scalar shape (an array<float> column can't be sorted/hashed by
      // the pandas-side compare)
      graft.ops.Multimodal.featureRows(media, dim = 16).toDF()
        .withColumn("value", round(col("value"), 6))
    }),

    // --- reproducible sampling + mixture weighting + profiling ---
    // deterministic hash sampling: membership is a pure function of
    // (salt, id) — partitioning/retry/cluster-size independent, and
    // recomputable row-by-row by the DuckDB oracle
    // Deterministic shard export: global md5 shuffle order cut into 16
    // shards, 0-based in-shard positions. DuckDB recomputes every
    // assignment row-by-row (pure function of salt and id — the same
    // auditability contract as det_sample/det_split).
    "shard_assign" -> ((s, d) =>
      graft.ops.Shards.assignShards(
        t(s, d, "documents").select(col("doc_id")), "doc_id", 16)
        .select(col("doc_id"), col("shard"), col("pos"))),
    "det_sample" -> ((s, d) =>
      Curation.deterministicSample(t(s, d, "documents"), "doc_id", 0.3)),
    // End-to-end curation pipeline: the ops COMPOSE — near-dedup ->
    // quality filter -> PII redaction -> leakage-safe split -> pack the
    // train split to 512-token sequences. The gate checks the chain's
    // conservation laws (monotone counts, everything split, packs
    // well-formed) plus the oracle-valued corpus size.
    "pipeline_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val nIn = docs.count()
      val deduped = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.6)
        .localCheckpoint(true)
      val quality = deduped.filter(TextAnalysis.qualityScore(col("text")) > 0.2)
      val clean = quality.withColumn("text", Curation.redactPii(col("text")))
      val split = clean.withColumn("split",
        Curation.splitColumn(col("doc_id"), Seq("train" -> 0.9, "val" -> 0.1)))
        .localCheckpoint(true)
      val train = split.filter(col("split") === "train")
      val packed = graft.ops.Packing.packDocs(train, "doc_id", "text", 512L)
      val stats = graft.ops.Packing.packStats(packed, 512L)
      // the seven check counts are independent reads of checkpointed
      // frames — overlap them (guide §2.6) instead of paying each
      // job's planning latency and task tail serially
      val cs = graft.core.Par.jobs(s)(
        () => deduped.count(), () => quality.count(),
        () => split.count(), () => train.count(),
        () => packed.count(),
        () => stats.filter(col("tokens") > 512L && !col("oversize")).count(),
        () => train.filter(TextAnalysis.tokenCount(col("text")) > 0).count())
      val (nDedup, nQuality, nSplit, nTrain) = (cs(0), cs(1), cs(2), cs(3))
      val (nPacked, overBudget, nPackable) = (cs(4), cs(5), cs(6))
      s.range(1).select(
        lit(nIn).as("n_docs"),
        lit(nDedup <= nIn && nQuality <= nDedup && nSplit == nQuality)
          .as("counts_monotone"),
        lit(nPacked == nTrain || nPacked == nPackable)
          .as("train_all_packed"),
        lit(overBudget == 0L).as("packs_well_formed"))
    }),
    // weighted sampling without replacement (Efraimidis-Spirakis):
    // the 400 docs with the largest u^(1/n_chars); DuckDB replays the
    // md5-uniform + pow key and ranks the same way
    "weighted_sample" -> ((s, d) =>
      Curation.weightedSample(t(s, d, "documents"), "doc_id", "n_chars", k = 400)),
    // deterministic train/val/test assignment — per-row value-checked
    // (DuckDB recomputes the same md5 bucket per doc)
    "det_split" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), Curation.splitColumn(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))),
    // leakage-free split gate: near-dup clusters (planted edits) never
    // span splits, everyone is assigned, fractions are sane
    "leakage_split_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val edited = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy")))
      val all = docs.unionByName(edited)
      val out = Curation.leakageFreeSplit(all, "doc_id", "text",
        Seq("train" -> 0.7, "test" -> 0.3), threshold = 0.6).localCheckpoint(true)
      // four independent checks over the checkpointed split — overlap
      // the jobs (guide §2.6)
      val cs = graft.core.Par.jobs(s)(
        () => all.count(),
        () => out.filter(col("split").isin("train", "test")).count(),
        // every planted (orig, edit) pair lands in ONE split
        () => out.select(col("doc_id"), col("split"))
          .join(out.select((col("doc_id") - DupOff).as("doc_id"),
            col("split").as("split2")), "doc_id")
          .filter(col("split") =!= col("split2")).count(),
        () => out.filter(col("split") === "train").count())
      val (n, assigned, leaks) = (cs(0), cs(1), cs(2))
      val frac = cs(3).toDouble / n
      s.range(1).select(
        lit(assigned == n).as("all_assigned"),
        lit(leaks == 0L).as("no_leaks"),
        lit(frac > 0.55 && frac < 0.85).as("fractions_sane"))
    }),
    // per-source mixture re-weighting in one narrow pass
    "mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(t(s, d, "documents"), "source", "doc_id",
        Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 0.5), defaultFraction = 0.75)),
    // balanced per-class sample via bounded per-partition heaps (no
    // full-corpus window shuffle); deterministic md5 rank
    "stratified_sample" -> ((s, d) =>
      Curation.stratifiedSample(t(s, d, "documents"), "lang", "doc_id", n = 25)),
    // per-source greedy token-budget prefix; under-budget sources skip
    // the window entirely
    "token_budget_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .select("doc_id", "source", "n_tokens")
      Curation.tokenBudgetSample(docs, "source", "doc_id", "n_tokens",
        budget = 1300L)
    }),
    // one-pass long-form dataset profile (exact stats, oracle-checked)
    "data_profile" -> ((s, d) =>
      graft.ops.Profile.profile(
          t(s, d, "documents").select("doc_id", "text", "n_chars"))
        .withColumn("value", round(col("value"), 6))),
    // incremental fragment-sketch profiling gate: per-fragment
    // HLL + exact-decimal sketches persisted beside the array merge to
    // exact whole-table stats (counts/min/max/sum DuckDB-recomputed)
    // without re-reading data; the second write pass is a no-op and
    // the HLL union's ndv lands within 5% of exact
    "sketch_profile_gate" -> ((s, d) => {
      val uri = ttLineitem(s, d)
      val cols = Seq("l_quantity", "l_suppkey")
      graft.ops.Profile.writeFragmentSketches(s, uri, cols)
      val second = graft.ops.Profile.writeFragmentSketches(s, uri, cols)
      val prof = graft.ops.Profile.mergedSketchProfile(s, uri)
        .collect().map(r => r.getString(r.fieldIndex("column")) -> r).toMap
      val q = prof("l_quantity")
      val exactNdv = t(s, d, "lineitem")
        .agg(countDistinct(col("l_suppkey"))).head().getLong(0)
      val ndv = prof("l_suppkey").getAs[Long]("ndv_estimate").toDouble
      s.range(1).select(
        lit(q.getAs[Long]("n")).as("n_rows"),
        lit(q.getAs[Double]("min")).as("min_qty"),
        lit(q.getAs[Double]("max")).as("max_qty"),
        lit(q.getAs[java.math.BigDecimal]("sum").doubleValue()).as("sum_qty"),
        lit(second == 0).as("incremental_ok"),
        lit(math.abs(ndv - exactNdv) / exactNdv < 0.05).as("ndv_ok"))
    }),

    // exact top-k frequent values (categorical profiling): count
    // aggregation + bounded-heap ranking, (count desc, value asc)
    "profile_topk" -> ((s, d) =>
      graft.ops.Profile.frequentValues(t(s, d, "documents"), "lang", k = 5)),

    // mergeable histogram quantiles: per-fragment equi-width counts
    // over pinned bounds merge exactly; the p50 estimate must land
    // within one bucket width of DuckDB's exact median (deterministic
    // bound — estimate and true value share the rank's bucket), and a
    // second write pass must be a no-op (incremental)
    "hist_quantile_gate" -> ((s, d) => {
      val uri = ttLineitem(s, d)
      val (lo, hi, nb) = (0.0, 51.0, 51)
      graft.ops.Profile.writeFragmentHistograms(s, uri, "l_quantity", lo, hi, nb)
      val second = graft.ops.Profile.writeFragmentHistograms(s, uri, "l_quantity", lo, hi, nb)
      val hist = graft.ops.Profile.mergedHistogram(s, uri, "l_quantity")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val est = graft.ops.Profile.histogramQuantile(hist, lo, hi, nb, 0.5)
      val exact = t(s, d, "lineitem")
        .agg(percentile(col("l_quantity").cast("double"), lit(0.5))).head().getDouble(0)
      val width = (hi - lo) / nb
      s.range(1).select(
        lit(hist.map(_._2).sum).as("n_rows"),
        lit(second == 0).as("incremental_ok"),
        lit(math.abs(est - exact) <= width).as("p50_in_bound"))
    }),

    // distribution drift between MVCC windows from sketch files alone:
    // total-variation distance of the pre-cut window's quantity
    // histogram vs the full table's, both merged from per-fragment
    // sidecars (no data reads); DuckDB recomputes both histograms and
    // the TV sum from the raw rows
    "hist_drift" -> ((s, d) => {
      val uri = ttLineitem(s, d)
      val (lo, hi, nb) = (0.0, 51.0, 51)
      graft.ops.Profile.writeFragmentHistograms(s, uri, "l_quantity", lo, hi, nb)
      def hist(at: Option[(Long, Long)]) =
        graft.ops.Profile.mergedHistogram(s, uri, "l_quantity", at)
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val h1 = hist(Some((0L, 1500L)))
      val h2 = hist(None)
      s.range(1).select(
        lit(h1.map(_._2).sum).as("n_old"),
        lit(h2.map(_._2).sum).as("n_all"),
        round(lit(graft.ops.Profile.histogramDrift(h1, h2)), 6).as("drift"))
    }),

    // mergeable count-min sketch: fragment sketches must merge into
    // EXACTLY the one-shot sketch of the whole table (cell for cell —
    // counts add element-wise, the hash family is shared), each depth
    // row's total mass is exactly the non-null row count, a second
    // write pass is a no-op, and every probe estimate dominates its
    // exact count (the deterministic CMS guarantee; the probabilistic
    // upper bound is measured, not asserted)
    "cms_gate" -> ((s, d) => {
      val uri = ttLineitem(s, d)
      graft.ops.Profile.writeFragmentCms(s, uri, "l_suppkey")
      val second = graft.ops.Profile.writeFragmentCms(s, uri, "l_suppkey")
      val merged = graft.ops.Profile.mergedCms(s, uri, "l_suppkey")
      val oneShot = graft.ops.Profile.cmsCells(
        t(s, d, "lineitem"), "l_suppkey", depth = 4, width = 4096)
      // one full-outer compare job (missing cell on either side or a
      // differing count = mismatch) instead of two exceptAll passes;
      // the three verdict actions are independent — overlapped (§2.6)
      val exact = t(s, d, "lineitem").groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("true_cnt"))
      val est = graft.ops.Profile.cmsEstimates(s, uri, "l_suppkey",
        exact.select(col("l_suppkey")), "l_suppkey")
      val vs = graft.core.Par.jobs(s)(
        () => merged.withColumnRenamed("cnt", "a")
          .join(oneShot.withColumnRenamed("cnt", "b"), Seq("d", "bucket"), "full")
          .filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
          .isEmpty: Any,
        () => merged.groupBy("d").agg(sum("cnt").as("m"))
          .select(countDistinct(col("m")).as("k"), min(col("m")).as("m")).head(): Any,
        () => est.join(exact, est("value") === exact("l_suppkey"))
          .filter(col("estimate") < col("true_cnt")).isEmpty: Any)
      val mergeExact = vs(0).asInstanceOf[Boolean]
      val massPerRow = vs(1).asInstanceOf[org.apache.spark.sql.Row]
      val allGe = vs(2).asInstanceOf[Boolean]
      s.range(1).select(
        lit(massPerRow.getLong(1)).as("n_rows"),
        lit(massPerRow.getLong(0) == 1L).as("mass_uniform"),
        lit(second == 0).as("incremental_ok"),
        lit(mergeExact).as("merge_exact"),
        lit(allGe).as("all_ge"))
    }),

    // --- as-of join: each click matched to the user's most recent
    //     prior purchase (union+window composition, one shuffle) ---
    "asof_join" -> ((s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      graft.ops.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_")
    }),
    // tolerance mode: match only if the purchase is within 1h
    "asof_tol" -> ((s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      graft.ops.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", toleranceUs = Some(3600L * 1000000L))
    }),
    // outer mode: unmatched clicks kept with null purchase columns
    "asof_outer" -> ((s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      graft.ops.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", inner = false)
    }),
    // forward direction: earliest purchase AT or AFTER the click
    "asof_forward" -> ((s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      graft.ops.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", direction = "forward")
    }),
    // interval containment at scale: events joined to the 2-hour
    // windows (derived from every 5th event) that contain them — bin-
    // bucketed equi-join, never a per-key nested loop
    "range_join" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("ts").cast(TimestampNTZType).as("ts"))
      val wins = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("event_id").as("win_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      graft.ops.AsOf.rangeJoin(ev, wins, Seq("user_id"),
          "ts", "w_start", "w_end", rightPrefix = "w_")
        .select(col("event_id"), col("w_win_id").as("win_id"))
    }),
    // interval-overlap join (interval x interval): 1-hour windows vs
    // 2-hour windows per user — pair kept in the overlap-start bin only
    "overlap_join" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("ts").cast(TimestampNTZType).as("ts"))
      val lw = ev.filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("event_id").as("lwin_id"),
          col("ts").as("l_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("l_end"))
      val rw = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("event_id").as("rwin_id"),
          col("ts").as("r_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("r_end"))
      graft.ops.AsOf.overlapJoin(lw, rw, Seq("user_id"),
          "l_start", "l_end", "r_start", "r_end", rightPrefix = "w_")
        .select(col("lwin_id"), col("w_rwin_id").as("rwin_id"))
    }),
    // nearest direction: closer of the two, backward on ties
    "asof_nearest" -> ((s, d) => {
      val (clicks, purchases) = asofSides(s, d)
      graft.ops.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPrefix = "p_", direction = "nearest")
    }),

    // --- exact n-gram Jaccard verification primitive on planted pairs ---
    "jaccard_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edited = docs.withColumn("doc_id", col("doc_id") + DupOff)
        .withColumn("text", concat(col("text"), lit(" xyzzy plugh")))
      val all = docs.unionByName(edited)
      val pairs = docs.select(col("doc_id").as("a"),
        (col("doc_id") + DupOff).as("b"))
      graft.ops.Dedup.ngramJaccard(all, "doc_id", "text", pairs, n = 3)
    }),

    // --- events: gap-based sessionization (batch; streaming variant in
    //     graft.streaming.EventStreams) ---
    "ev_sessionize_batch" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 1800L * 1000000L // 30 min session gap, microseconds
      events(s, d)
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("__gap", when(col("__prev").isNull
          || unix_micros(col("ts")) - col("__prev") > gapUs, 1).otherwise(0))
        .withColumn("session_id", sum(col("__gap")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType).as("total_value"))
    }),

    // --- events: windowed aggregation (streaming-equivalent batch) ---
    "ev_window_agg" -> ((s, d) => events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(25, 6))).cast(DoubleType).as("total_value"))
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("event_type"), col("n"), col("total_value"))),
  )

  // ---------------------------------------------------------- oracle SQL

  private val maybePriceSql =
    "CASE WHEN l_discount > 0.05 THEN NULL ELSE l_extendedprice END"

  /** DuckDB replay of the exact BPE merge loop, generated from the SAME
    * embedded merge table the Spark side uses (no drift possible): a
    * recursive CTE iterates each distinct pre-token's sep-joined symbol
    * string, each step applying the lowest-ranked pair present.
    * `replace` is non-overlapping so a step may apply only a prefix of
    * the pair's occurrences — the well-formed table (operands always
    * created by strictly earlier merges) makes repeated application
    * converge to the same fixpoint as merging all occurrences at once
    * (see [[graft.ops.TextAnalysis.bpeMerges]]). */
  /** Shared DuckDB replay of the learned-BPE segmentation: CTEs ending
    * in `docbpe(doc_id, n_bpe)` — per-doc token totals under the SAME
    * embedded merge table the Spark side uses. Cost scales with the
    * corpus' DISTINCT words (the recursive seg runs per word), not
    * with the 24k-merge table size. */
  private def bpeDocCountsCte: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val values = graft.ops.TextAnalysis.bpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},${q(a)},${q(b)})" }.mkString(",")
    val pretoken = "'[a-z]+|[0-9]+|[^a-z0-9[:space:]]+'"
    "WITH RECURSIVE merges(rank, a, b) AS (VALUES " + values + "), " +
    "words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), " + pretoken +
    ")) AS w FROM documents), " +
    "seg(w, s) AS (" +
    "SELECT w, array_to_string(list_transform(range(1, length(w)+1), " +
    "i -> substring(w, CAST(i AS INT), 1)), chr(31)) FROM words " +
    "UNION ALL " +
    "SELECT t.w, trim(replace(chr(31)||t.s||chr(31), " +
    "chr(31)||m.a||chr(31)||m.b||chr(31), chr(31)||m.a||m.b||chr(31)), chr(31)) " +
    "FROM (SELECT w, s, (SELECT min(mm.rank) FROM merges mm " +
    "WHERE instr(chr(31)||s||chr(31), chr(31)||mm.a||chr(31)||mm.b||chr(31)) > 0) AS br " +
    "FROM seg) t JOIN merges m ON m.rank = t.br), " +
    "final AS (SELECT w, min(length(s) - length(replace(s, chr(31), '')) + 1) AS n " +
    "FROM seg GROUP BY w), " +
    "docwords AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), " + pretoken +
    ")) AS w FROM documents), " +
    "docbpe AS (SELECT d.doc_id, CAST(coalesce(sum(f.n), 0) AS BIGINT) AS n_bpe " +
    "FROM documents d LEFT JOIN docwords dw ON d.doc_id = dw.doc_id " +
    "LEFT JOIN final f ON dw.w = f.w GROUP BY d.doc_id)"
  }

  private def bpeOracleSql: String =
    bpeDocCountsCte + " SELECT doc_id, n_bpe FROM docbpe"

  /** DuckDB replay of the FULL tokenizer output — segmentation (same
    * recursive CTE as [[bpeDocCountsCte]], but keeping the fixpoint
    * symbol string per word) plus the stable id mapping, both
    * generated from the same embedded tables as the Spark side. */
  private def bpeTokenIdsOracleSql: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val values = graft.ops.TextAnalysis.bpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},${q(a)},${q(b)})" }.mkString(",")
    val vocabValues = graft.ops.TextAnalysis.bpeVocabIds.toSeq.sortBy(_._2)
      .map { case (w, vid) => s"(${q(w)},$vid)" }.mkString(",")
    val pretoken = "'[a-z]+|[0-9]+|[^a-z0-9[:space:]]+'"
    "WITH RECURSIVE merges(rank, a, b) AS (VALUES " + values + "), " +
    "vocab(w, vid) AS (VALUES " + vocabValues + "), " +
    "words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), " + pretoken +
    ")) AS w FROM documents), " +
    "seg(w, s) AS (" +
    "SELECT w, array_to_string(list_transform(range(1, length(w)+1), " +
    "i -> substring(w, CAST(i AS INT), 1)), chr(31)) FROM words " +
    "UNION ALL " +
    "SELECT t.w, trim(replace(chr(31)||t.s||chr(31), " +
    "chr(31)||m.a||chr(31)||m.b||chr(31), chr(31)||m.a||m.b||chr(31)), chr(31)) " +
    "FROM (SELECT w, s, (SELECT min(mm.rank) FROM merges mm " +
    "WHERE instr(chr(31)||s||chr(31), chr(31)||mm.a||chr(31)||mm.b||chr(31)) > 0) AS br " +
    "FROM seg) t JOIN merges m ON m.rank = t.br), " +
    // the fixpoint row per word: the unique s no merge applies to
    "fixp AS (SELECT w, s FROM seg t WHERE NOT EXISTS (SELECT 1 FROM merges m " +
    "WHERE instr(chr(31)||t.s||chr(31), chr(31)||m.a||chr(31)||m.b||chr(31)) > 0)), " +
    "wtoks AS (SELECT w, unnest(string_split(s, chr(31))) AS t, " +
    "generate_subscripts(string_split(s, chr(31)), 1) AS i FROM fixp), " +
    "wids0 AS (SELECT wtoks.w, i, CASE WHEN length(t) > 1 THEN v.vid " +
    "ELSE unicode(t) END AS tid FROM wtoks LEFT JOIN vocab v ON v.w = wtoks.t), " +
    "wid AS (SELECT w, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i) AS ids, " +
    "CAST(count(*) AS BIGINT) AS n FROM wids0 GROUP BY w), " +
    "doctoks AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS o " +
    "FROM (SELECT doc_id, regexp_extract_all(lower(text), " + pretoken +
    ") AS ws FROM documents)), " +
    "docids AS (SELECT d.doc_id, " +
    "coalesce(string_agg(wi.ids, ',' ORDER BY dt.o), '') AS token_ids, " +
    "CAST(coalesce(sum(wi.n), 0) AS BIGINT) AS n_tokens " +
    "FROM documents d LEFT JOIN doctoks dt ON d.doc_id = dt.doc_id " +
    "LEFT JOIN wid wi ON dt.w = wi.w GROUP BY d.doc_id) " +
    "SELECT doc_id, n_tokens, token_ids FROM docids"
  }

  /** Planted language-ID fixture: one phrase per language in
    * [[graft.ops.TextAnalysis.scriptLangs]] check order, then the 20
    * stopword languages, then a gibberish 'und' case. Indexed by
    * doc_id % langPhrases.length on BOTH engines. The last four are
    * confusable-pair phrases decided by the char-n-gram stage. */
  private[graft] val langPhrases: Seq[String] = Seq(
    "これは日本語のテキストです",                       // ja (kana ratio)
    "这是一个简单的中文测试文本",                       // zh (Han)
    "이것은 한국어 테스트 텍스트입니다",                // ko (Hangul)
    "هذا نص تجريبي باللغة العربية",                    // ar
    "זהו טקסט בדיקה בעברית",                           // he
    "यह हिंदी में एक परीक्षण पाठ है",                       // hi
    "นี่คือข้อความทดสอบภาษาไทย",                        // th
    "αυτό είναι ένα ελληνικό κείμενο δοκιμής",         // el
    "the cat and the dog is in that house for good",   // en
    "el perro de la casa que los niños en un día",     // es
    "le chat est dans les jardins pour une vie qui",   // fr
    "der hund und die katze ist nicht ein tier mit",   // de
    "il cane di casa che la strada per una con del",   // it
    "não vou para uma casa com os amigos do que da",   // pt
    "de hond het huis een van en dat niet met voor",   // nl
    "och att det som på är av för med den",            // sv
    "og det er en den at til som på med",              // da
    "det er ikke han som og av på med til",            // no
    "ja on ei että hän oli se mutta kun niin",         // fi
    "nie się jest na do że z po jak ale",              // pl
    "je se na že to v s ale jako už",                  // cs
    "și de la cu un o este pentru care nu",            // ro
    "és az hogy nem is egy van de meg a",              // hu
    "bir ve bu için ne gibi çok daha da de",           // tr
    "yang dan di itu dengan untuk tidak ini dari akan",// id
    "và của là có không được trong một người những",   // vi
    "и в не на что с он как это по",                   // ru
    "і в не на що з він як це за",                     // uk
    "zzz qqq xyzzy blorp",                             // und
    // CONFUSABLE pairs: stopword hits tie across the pair and only the
    // char-n-gram stage separates them (da/no tie at 6 shared
    // stopwords; es/pt tie at the shared "que")
    "og det er som på med og hvad hedder du af",       // da (ngram-decided)
    "og det er som på med og hva heter du av",         // no (ngram-decided)
    "que señor mañana canción y algo",                 // es (ngram-decided)
    "que coração ação é e sim")                        // pt (ngram-decided)

  /** DuckDB replay of [[graft.ops.TextAnalysis.langId]], GENERATED from
    * the same stopword/script tables: script-ratio chain first (same
    * 0.3 threshold, same order), then stopword argmax with the same
    * lex-largest tie-break. */
  private def langIdOracleSql: String = {
    import graft.ops.TextAnalysis.{charNgrams, scriptLangs, stopwords}
    val phrases = langPhrases.map(p => "'" + p.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    val scriptCols = scriptLangs.map { case (lang, _, re2) =>
      s"length(regexp_replace(txt, '[^$re2]', '', 'g')) AS c_$lang" }.mkString(", ")
    val swCols = stopwords.toSeq.sortBy(_._1).map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($lst, t))) AS s_$lang" }.mkString(", ")
    // combined score = stopwords*16 + min(char-n-gram occurrences, 9),
    // replaying TextAnalysis.stopwordLangId's weighting exactly
    val wCols = stopwords.keys.toSeq.sorted.map { lang =>
      val g = charNgrams.get(lang) match {
        case None => "0"
        case Some(grams) => grams.map { gr =>
          val q = gr.replace("'", "''")
          s"CAST((length(pad) - length(replace(pad, '$q', ''))) // ${gr.length} AS INT)"
        }.mkString("least(", " + ", ", 9)")
      }
      s"s_$lang * 16 + $g AS w_$lang"
    }.mkString(", ")
    val m = stopwords.keys.toSeq.sorted.map(l => s"w_$l")
      .mkString("greatest(", ", ", ")")
    val scriptCase = scriptLangs.map { case (lang, _, _) =>
      s"WHEN c_$lang > 0.3 * ns THEN '$lang'" }.mkString(" ")
    val swCase = stopwords.keys.toSeq.sorted.reverse
      .map(l => s"WHEN w_$l = m THEN '$l'").mkString(" ")
    s"WITH p AS (SELECT doc_id, ($phrases)[CAST(doc_id % ${langPhrases.length} AS INT) + 1] AS txt FROM documents), " +
    s"s AS (SELECT doc_id, string_split_regex(trim(lower(txt)), '\\s+') AS toks, " +
    s"' ' || lower(txt) || ' ' AS pad, " +
    s"length(regexp_replace(txt, '\\s', '', 'g')) AS ns, $scriptCols FROM p), " +
    s"sc AS (SELECT *, $swCols FROM s), " +
    s"w AS (SELECT *, $wCols FROM sc), " +
    s"f AS (SELECT *, $m AS m FROM w) " +
    s"SELECT doc_id, CASE $scriptCase WHEN m <= 0 THEN 'und' $swCase END AS lang_pred FROM f"
  }

  /** (prefix, suffix) pairs; the planted URL is prefix + doc_id +
    * suffix, selected by doc_id % length — same formula both engines. */
  private[graft] val urlTemplates: Seq[(String, String)] = Seq(
    ("HTTP://WWW.Example.COM:80/alpha/", "?utm_source=feed&utm_medium=rss"),
    ("https://News.Site.co.uk:443/story/", "?fbclid=XYZ123&page=2"),
    ("http://sub.shop.com.au/item?id=", "&gclid=99&color=red"),
    ("https://Blog.Example.org/post-", "#section-2"),
    ("http://10.0.42.7/files/f", "?x=1&utm_campaign=loop"),
    ("www.naked.example.com/path/", ""),
    ("HTTPS://API.Service.CO.JP:8443/v", "?key=abc&utm_term=x"),
    ("http://Example.com:80/?utm_content=c", ""))

  private def plantedUrl: Column =
    concat(
      element_at(array(urlTemplates.map(t => lit(t._1)): _*),
        (col("doc_id") % urlTemplates.length).cast("int") + 1),
      col("doc_id").cast("string"),
      element_at(array(urlTemplates.map(t => lit(t._2)): _*),
        (col("doc_id") % urlTemplates.length).cast("int") + 1))

  /** Boilerplate-line header templates: each lands on ~1/4 of docs,
    * far above the minDocs=5 gate threshold. Shared between the Spark
    * plant and the DuckDB oracle so the fixtures cannot drift. */
  private val boilerHeaders = Seq(
    "Home | About | Contact", "Subscribe to our newsletter",
    "Accept cookies to continue", "Menu Search Login")

  /** Planted multi-line doc exercising the whole removeBoilerplate
    * rule surface: a template header (whitespace-padded on every 3rd
    * doc — trim must unify the variants), a blank line (never counted,
    * always kept), a unique body line (kept), a footer that is
    * boilerplate for even ids and unique for odd ids, and a rare promo
    * line on every 200th doc (~3 docs at sf0.01 — below minDocs,
    * kept). */
  private def plantedBoilerDoc: Column = {
    val hdr = element_at(array(boilerHeaders.map(lit): _*),
      (col("doc_id") % boilerHeaders.length).cast("int") + 1)
    concat_ws("\n",
      when(col("doc_id") % 3 === 0, concat(lit("  "), hdr, lit("  ")))
        .otherwise(hdr),
      lit(""),
      concat(lit("body "),
        ((col("doc_id") * 2654435761L) % 1000000007L).cast("string")),
      when(col("doc_id") % 2 === 0, lit("(c) graft corp 2026"))
        .otherwise(concat(lit("contact: page "), col("doc_id").cast("string"))),
      when(col("doc_id") % 200 === 0, lit("rare promo line")))
  }

  /** WITH-clause body replaying plant + line split + doc-frequency
    * count + reconstruction in DuckDB, generated from the SAME header
    * table as [[plantedBoilerDoc]]. */
  private def boilerOracleCtes: String = {
    val k = boilerHeaders.length
    val hdrs = boilerHeaders.map(h => "'" + h.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"b0 AS (SELECT doc_id, ($hdrs)[CAST(doc_id % $k AS INT) + 1] AS hdr " +
    "FROM documents), " +
    "b1 AS (SELECT doc_id, concat_ws(chr(10), " +
    "CASE WHEN doc_id % 3 = 0 THEN '  ' || hdr || '  ' ELSE hdr END, " +
    "'', " +
    "'body ' || CAST((doc_id * 2654435761) % 1000000007 AS VARCHAR), " +
    "CASE WHEN doc_id % 2 = 0 THEN '(c) graft corp 2026' " +
    "ELSE 'contact: page ' || CAST(doc_id AS VARCHAR) END, " +
    "CASE WHEN doc_id % 200 = 0 THEN 'rare promo line' ELSE NULL END" +
    ") AS txt FROM b0), " +
    "ls AS (SELECT doc_id, unnest(string_split(txt, chr(10))) AS line, " +
    "unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS pos FROM b1), " +
    "cnt AS (SELECT trim(line) AS key FROM ls WHERE trim(line) <> '' " +
    "GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5), " +
    "mk AS (SELECT l.doc_id, l.line, l.pos, " +
    "(c.key IS NULL OR trim(l.line) = '') AS keep " +
    "FROM ls l LEFT JOIN cnt c ON trim(l.line) = c.key)"
  }

  /** Planted dirty text for the [[graft.ops.Curation.cleanText]] gate:
    * decomposed accent (e + combining acute U+0301), a BEL control on
    * even ids, CRLF vs LF line endings by id % 3, and a zero-width
    * space on every 5th id. Each rule of cleanText has ids where it
    * fires and ids where it must not. */
  private def plantedDirtyDoc: Column =
    concat(
      lit("caf"), lit("e\u0301"), lit(" menu"),
      when(col("doc_id") % 2 === 0, lit("\u0007")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, lit("\r\n")).otherwise(lit("\n")),
      lit("line two"),
      when(col("doc_id") % 5 === 0, concat(lit("\u200B"), lit("tail")))
        .otherwise(lit(" tail")))

  /** WITH-clause body replaying the dirty plant in DuckDB via chr()
    * codes, then the cleanup with the SAME regex constants
    * ([[graft.ops.Curation.ControlRe]] / ZeroWidthRe are RE2-safe
    * ASCII escapes; the CRLF rule is chr-built to avoid raw control
    * bytes in SQL) and DuckDB's own nfc_normalize. */
  private def cleanOracleCtes: String =
    "tc0 AS (SELECT doc_id, 'cafe' || chr(769) || ' menu' || " +
    "CASE WHEN doc_id % 2 = 0 THEN chr(7) ELSE '' END || " +
    "CASE WHEN doc_id % 3 = 0 THEN chr(13)||chr(10) ELSE chr(10) END || " +
    "'line two' || " +
    "CASE WHEN doc_id % 5 = 0 THEN chr(8203)||'tail' ELSE ' tail' END " +
    "AS txt FROM documents), " +
    "tc1 AS (SELECT doc_id, nfc_normalize(regexp_replace(regexp_replace(" +
    "regexp_replace(txt, chr(13)||chr(10)||'?', chr(10), 'g'), " +
    s"'${Curation.ControlRe}', '', 'g'), " +
    s"'${Curation.ZeroWidthRe}', '', 'g')) AS clean_text FROM tc0)"

  /** Planted HTML for the [[graft.ops.Curation.stripMarkup]] gate.
    * Every rule has ids where it fires and ids where it must not: the
    * style subtree is on ALL docs, the script subtree only on even ids
    * (its body contains `<`, `&` and a decoy `</p >` that must vanish
    * with the subtree, not become a newline), comments on ids%3==0,
    * `&amp;lt;` must surface as the literal text `&lt;` (amp-last
    * ordering), numeric (&#39;) and named entities, attributed tags,
    * and both `<br/>` and `<br >` forms. */
  private def plantedHtmlDoc: Column =
    concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style type=\"text/css\">body {color: red}</style>"),
      when(col("doc_id") % 2 === 0,
        lit("<script>if (1 < 2) { x = \"a & b\"; } // </p ></script>"))
        .otherwise(lit("")),
      lit("</head><body>"),
      when(col("doc_id") % 3 === 0, lit("<!-- hidden <p>note</p> -->"))
        .otherwise(lit("")),
      lit("<h1 class=\"big\">Title</h1>"),
      lit("<p>Hello &amp; welcome to &lt;Graft&gt;.</p>"),
      lit("<p>It&#39;s &quot;quoted&quot;&nbsp;and &amp;lt;kept&amp;gt;</p>"),
      lit("<div><ul><li>item A</li><li>item "),
      (col("doc_id") % 7).cast("string"), lit("</li></ul></div>"),
      when(col("doc_id") % 5 === 0, lit("<br/>")).otherwise(lit("<br >")),
      lit("tail text</body></html>"),
      // truncated-crawl plant: an UNCLOSED <script> whose body (and
      // the trailing junk after it) must vanish via the fallback pass
      when(col("doc_id") % 11 === 0,
        lit("<script type=\"x\">var leaked = 1; // truncated"))
        .otherwise(lit("")))

  /** SQL-escape a constant for a single-quoted DuckDB literal. */
  private def sqlQ(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The [[graft.ops.Curation.stripMarkup]] chain as DuckDB SQL,
    * GENERATED from the same regex constants the Spark op uses —
    * all patterns are RE2-safe by construction, so the two engines
    * run the identical strings. Newline replacements go through
    * chr(10) (RE2 rewrite strings only know backslash-digit). */
  private def markupStripSql(inner: String): String = {
    import graft.ops.Curation._
    val noBlocks = s"regexp_replace(regexp_replace(regexp_replace($inner, " +
      s"${sqlQ(ScriptStyleRe)}, '', 'g'), " +
      s"${sqlQ(UnclosedScriptStyleRe)}, '', 'g'), " +
      s"${sqlQ(CommentRe)}, '', 'g')"
    val noTags = s"regexp_replace(regexp_replace($noBlocks, " +
      s"${sqlQ(BreakTagRe)}, chr(10), 'g'), ${sqlQ(TagRe)}, '', 'g')"
    val decoded = EntityTable.foldLeft(noTags) { case (c, (e, r)) =>
      s"regexp_replace($c, ${sqlQ(e)}, ${sqlQ(r)}, 'g')"
    }
    s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"$decoded, ${sqlQ(HSpaceRe)}, ' ', 'g'), " +
      s"${sqlQ(NlHugRe)}, chr(10), 'g'), " +
      s"${sqlQ(NlRunRe)}, chr(10)||chr(10), 'g'), " +
      s"${sqlQ(EdgeWsRe)}, '', 'g')"
  }

  /** WITH-clause body replaying the HTML plant in DuckDB (plain string
    * concat — the plant has no control bytes) and the generated strip
    * chain. */
  private def markupOracleCtes: String =
    "mh0 AS (SELECT doc_id, '<html><head><title>Doc ' || doc_id || " +
    "'</title><style type=\"text/css\">body {color: red}</style>' || " +
    "CASE WHEN doc_id % 2 = 0 THEN " +
    "'<script>if (1 < 2) { x = \"a & b\"; } // </p ></script>' " +
    "ELSE '' END || '</head><body>' || " +
    "CASE WHEN doc_id % 3 = 0 THEN '<!-- hidden <p>note</p> -->' " +
    "ELSE '' END || " +
    "'<h1 class=\"big\">Title</h1>" +
    "<p>Hello &amp; welcome to &lt;Graft&gt;.</p>" +
    "<p>It&#39;s &quot;quoted&quot;&nbsp;and &amp;lt;kept&amp;gt;</p>" +
    "<div><ul><li>item A</li><li>item ' || (doc_id % 7) || " +
    "'</li></ul></div>' || " +
    "CASE WHEN doc_id % 5 = 0 THEN '<br/>' ELSE '<br >' END || " +
    "'tail text</body></html>' || " +
    "CASE WHEN doc_id % 11 = 0 THEN " +
    "'<script type=\"x\">var leaked = 1; // truncated' " +
    "ELSE '' END AS html FROM documents), " +
    s"mh1 AS (SELECT doc_id, ${markupStripSql("html")} AS clean_text FROM mh0)"

  /** Shared paragraph templates for the keep-first dedup gate: each
    * lands on ~1/3 of docs, so each has exactly one global survivor.
    * Shared between the Spark plant and the DuckDB oracle. */
  private val sharedParas = Seq(
    "All rights reserved by the original author.",
    "This article was originally published elsewhere.",
    "Thank you for reading and sharing this post.")

  /** Planted multi-paragraph doc for [[graft.ops.Curation.dedupParagraphs]]:
    * a shared template (whitespace-padded on every 5th doc — trim must
    * unify padded and bare variants within one template class), an
    * empty paragraph (never matched, always kept), a unique body
    * paragraph, and for even ids a padded same-doc REPEAT of that body
    * (removed: its first occurrence is earlier in the same doc). */
  private def plantedParaDoc: Column = {
    val sp = element_at(array(sharedParas.map(lit): _*),
      (col("doc_id") % sharedParas.length).cast("int") + 1)
    val body = concat(lit("para "),
      ((col("doc_id") * 2654435761L) % 1000000007L).cast("string"))
    concat_ws("\n\n",
      when(col("doc_id") % 5 === 0, concat(lit("  "), sp, lit("  ")))
        .otherwise(sp),
      lit(""),
      body,
      when(col("doc_id") % 2 === 0, concat(lit(" "), body, lit(" ")))
        .otherwise(concat(lit("solo "), col("doc_id").cast("string"))))
  }

  /** WITH-clause body replaying plant + paragraph split + global
    * keep-first marking in DuckDB, generated from the SAME template
    * table as [[plantedParaDoc]]. The keep rule is the window form of
    * the Spark side's min-(doc,pos) aggregate: row_number over the
    * trimmed paragraph ordered by (doc_id, pos). */
  private def paraOracleCtes: String = {
    val k = sharedParas.length
    val sps = sharedParas.map(p => "'" + p.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"pp0 AS (SELECT doc_id, ($sps)[CAST(doc_id % $k AS INT) + 1] AS sp " +
    "FROM documents), " +
    "pp1 AS (SELECT doc_id, concat_ws(chr(10)||chr(10), " +
    "CASE WHEN doc_id % 5 = 0 THEN '  ' || sp || '  ' ELSE sp END, " +
    "'', " +
    "'para ' || CAST((doc_id * 2654435761) % 1000000007 AS VARCHAR), " +
    "CASE WHEN doc_id % 2 = 0 THEN ' para ' || " +
    "CAST((doc_id * 2654435761) % 1000000007 AS VARCHAR) || ' ' " +
    "ELSE 'solo ' || CAST(doc_id AS VARCHAR) END" +
    ") AS txt FROM pp0), " +
    "pps AS (SELECT doc_id, " +
    "unnest(string_split(txt, chr(10)||chr(10))) AS para, " +
    "unnest(range(1, len(string_split(txt, chr(10)||chr(10))) + 1)) AS pos " +
    "FROM pp1), " +
    "pmk AS (SELECT doc_id, para, pos, (trim(para) = '' OR " +
    "row_number() OVER (PARTITION BY trim(para) ORDER BY doc_id, pos) = 1" +
    ") AS keep FROM pps)"
  }

  /** WITH-clause body replaying plant + normalize + host + domain in
    * DuckDB, generated from the SAME tables the Spark chain uses
    * (Curation.TrackingParams / MultiLabelSuffixes / urlTemplates). */
  /** Shared CTEs for the BM25 oracles: replays postings (tf + dl in
    * one grouping), df, exact-int avgdl, the query-term derivation
    * (distinct terms 5..9 of every 40th doc), and the scoring sum with
    * the same association order as [[graft.ops.Search.bm25Scores]]. */
  private def bm25OracleCtes: String =
    "toks AS (SELECT doc_id, " +
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), " +
    "x -> x <> '') AS t FROM documents), " +
    "dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks), " +
    "st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, " +
    "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), " +
    "ps AS (SELECT doc_id, unnest(t) AS w FROM toks), " +
    "tfc AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf " +
    "FROM ps GROUP BY doc_id, w), " +
    "dfc AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY w), " +
    "qt AS (SELECT DISTINCT doc_id AS query_id, unnest(t[5:9]) AS w " +
    "FROM toks WHERE doc_id % 40 = 0), " +
    "sc AS (SELECT qt.query_id, tfc.doc_id, " +
    "sum(ln(1 + (st.nd - dfc.df + 0.5) / (dfc.df + 0.5)) * tfc.tf * 2.25 / " +
    "(tfc.tf + 1.25 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS score " +
    "FROM qt JOIN tfc USING (w) JOIN dfc USING (w) " +
    "JOIN dl ON tfc.doc_id = dl.doc_id CROSS JOIN st " +
    "GROUP BY qt.query_id, tfc.doc_id)"

  private def urlOracleCtes: String = {
    val alt = Curation.trackingAlternation
    val k = urlTemplates.length
    val pres = urlTemplates.map(t => "'" + t._1.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    val posts = urlTemplates.map(t => "'" + t._2.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    val sufs = Curation.MultiLabelSuffixes.map(s => s"'$s'")
      .mkString("[", ", ", "]")
    val sre = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$"
    s"u0 AS (SELECT doc_id, ($pres)[CAST(doc_id % $k AS INT) + 1] || " +
    s"CAST(doc_id AS VARCHAR) || ($posts)[CAST(doc_id % $k AS INT) + 1] AS raw " +
    "FROM documents), " +
    "u1 AS (SELECT doc_id, regexp_replace(trim(raw), '#.*$', '') AS u FROM u0), " +
    s"p0 AS (SELECT doc_id, u, lower(regexp_extract(u, '$sre', 1)) AS sch, " +
    s"lower(regexp_extract(u, '$sre', 2)) AS hp0, " +
    s"regexp_extract(u, '$sre', 3) AS rest FROM u1), " +
    "p1 AS (SELECT doc_id, u, sch, CASE " +
    "WHEN sch = 'http' THEN regexp_replace(hp0, ':80$', '') " +
    "WHEN sch = 'https' THEN regexp_replace(hp0, ':443$', '') " +
    "ELSE hp0 END AS hp, rest FROM p0), " +
    "p2 AS (SELECT doc_id, u, sch, sch || '://' || hp || rest AS s FROM p1), " +
    s"p3 AS (SELECT doc_id, u, sch, regexp_replace(s, '&$alt=[^&#]*', '', 'g') AS s FROM p2), " +
    s"p4 AS (SELECT doc_id, u, sch, regexp_replace(s, '\\?$alt=[^&#]*&', '?') AS s FROM p3), " +
    s"p5 AS (SELECT doc_id, u, sch, regexp_replace(s, '\\?$alt=[^&#]*$$', '') AS s FROM p4), " +
    "p6 AS (SELECT doc_id, u, sch, " +
    "regexp_replace(s, '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\\1') AS s FROM p5), " +
    "nrm AS (SELECT doc_id, CASE WHEN sch = '' THEN u ELSE s END AS url_norm FROM p6), " +
    "hst AS (SELECT doc_id, url_norm, lower(regexp_extract(url_norm, " +
    "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*).*$', 1)) AS host FROM nrm), " +
    "dom AS (SELECT doc_id, url_norm, host, string_split(host, '.') AS sp FROM hst), " +
    "fin AS (SELECT doc_id, url_norm, host, CASE " +
    "WHEN regexp_matches(host, '^[0-9.]+$') OR len(sp) <= 2 THEN host " +
    s"WHEN list_contains($sufs, sp[-2] || '.' || sp[-1]) " +
    "THEN sp[-3] || '.' || sp[-2] || '.' || sp[-1] " +
    "ELSE sp[-2] || '.' || sp[-1] END AS domain FROM dom)"
  }

  def oracleSql: Map[String, String] = Map(
    "scan_full" -> "SELECT * FROM lineitem",
    "slice_range" -> ("SELECT * FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000 " +
      "AND l_linenumber BETWEEN 1 AND 3"),
    "multi_index_points" ->
      "SELECT * FROM lineitem WHERE l_orderkey IN (42, 77, 1001, 1500, 2222, 3000, 4999)",
    "multi_index_ranges" -> ("SELECT * FROM lineitem WHERE l_orderkey BETWEEN 1 AND 100 " +
      "OR l_orderkey BETWEEN 5000 AND 5100 OR l_orderkey BETWEEN 9000 AND 9500"),
    "proj_attrs" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity FROM lineitem",
    "slice_time_dim" -> ("SELECT * FROM lineitem WHERE l_shipdate BETWEEN " +
      "TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-06-30 23:59:59'"),
    "slice_string_dim" -> ("SELECT * FROM customer WHERE c_name BETWEEN " +
      "'Customer#000000100' AND 'Customer#000000299'"),

    "qc_compare" -> "SELECT * FROM lineitem WHERE l_quantity < 24.0",
    "qc_and_or" -> ("SELECT * FROM lineitem WHERE (l_quantity < 10.0 OR l_quantity > 45.0) " +
      "AND l_discount > 0.05"),
    "qc_in" -> "SELECT * FROM lineitem WHERE l_returnflag IN ('A', 'R')",
    "qc_not" -> "SELECT * FROM lineitem WHERE NOT (l_linestatus = 'O')",
    "qc_chain" -> "SELECT * FROM lineitem WHERE l_quantity > 5.0 AND l_quantity <= 10.0",
    "qc_null" -> (s"SELECT l_orderkey, l_linenumber, $maybePriceSql AS maybe_price " +
      s"FROM lineitem WHERE ($maybePriceSql) IS NULL"),
    "qc_dense_fill" -> ("SELECT l_orderkey, l_linenumber, " +
      "CASE WHEN l_quantity < 24.0 THEN l_quantity ELSE -1.0 END AS l_quantity FROM lineitem"),

    "agg_sum" -> "SELECT CAST(sum(l_orderkey) AS BIGINT) AS l_orderkey_sum FROM lineitem",
    "agg_sum_price" -> ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) " +
      "AS sum_price FROM lineitem"),
    "agg_min_max" -> ("SELECT CAST(min(l_extendedprice) AS DOUBLE) AS l_extendedprice_min, " +
      "CAST(max(l_extendedprice) AS DOUBLE) AS l_extendedprice_max FROM lineitem"),
    "agg_mean" -> ("SELECT CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) / count(*) " +
      "AS mean_qty FROM lineitem"),
    "agg_count" -> "SELECT count(*) AS l_orderkey_count FROM lineitem",
    "agg_null_count" -> (s"SELECT CAST(sum(CASE WHEN ($maybePriceSql) IS NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS maybe_price_null_count FROM lineitem"),
    "agg_slice_cond" -> ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) " +
      "AS sum_price, count(*) AS n FROM lineitem " +
      "WHERE l_orderkey BETWEEN 500 AND 4500 AND l_quantity < 24.0"),
    "nonempty_domain" -> ("SELECT min(l_orderkey) AS l_orderkey_min, " +
      "max(l_orderkey) AS l_orderkey_max, min(l_linenumber) AS l_linenumber_min, " +
      "max(l_linenumber) AS l_linenumber_max FROM lineitem"),
    "unique_dim_values" -> "SELECT DISTINCT l_orderkey FROM lineitem",

    "enum_decode" -> ("SELECT c_custkey, n_name AS c_nation FROM customer " +
      "JOIN nation ON c_nationkey = n_nationkey"),
    "dense_fill" -> ("SELECT CAST(t.coord AS BIGINT) AS coord, " +
      "coalesce(o.o_totalprice, 0.0) AS val FROM range(1, 2001) t(coord) " +
      "LEFT JOIN orders o ON o.o_orderkey = t.coord"),

    "label_slice" -> ("SELECT * FROM lineitem WHERE l_orderkey IN " +
      "(SELECT o_orderkey FROM orders WHERE o_orderdate BETWEEN " +
      "TIMESTAMP '1995-06-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59')"),
    "dense_read_array" -> ("SELECT CAST(t.coord AS BIGINT) AS o_orderkey, " +
      "coalesce(o.o_totalprice, 0.0) AS o_totalprice FROM range(1, 2001) t(coord) " +
      "LEFT JOIN orders o ON o.o_orderkey = t.coord"),
    // stepped coords: anchor 1499 descending by 7 -> (1499 - c) % 7 == 0
    "dense_read_revstep" -> ("SELECT CAST(t.coord AS BIGINT) AS o_orderkey, " +
      "coalesce(o.o_totalprice, 0.0) AS o_totalprice FROM range(300, 1500) t(coord) " +
      "LEFT JOIN orders o ON o.o_orderkey = t.coord WHERE (1499 - t.coord) % 7 = 0"),
    "agg_count_meta" -> "SELECT count(*) AS l_quantity_count FROM lineitem",
    "agg_minmax_meta" -> ("SELECT CAST(min(l_orderkey) AS BIGINT) AS l_orderkey_min, " +
      "CAST(max(l_orderkey) AS BIGINT) AS l_orderkey_max, " +
      "count(*) AS l_orderkey_count FROM lineitem"),
    "agg_builder" -> ("SELECT CAST(min(l_extendedprice) AS DOUBLE) AS l_extendedprice_min, " +
      "CAST(max(l_extendedprice) AS DOUBLE) AS l_extendedprice_max, " +
      "count(*) AS l_extendedprice_count FROM lineitem WHERE l_quantity < 24.0"),
    "time_travel" -> s"SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '$shipCut'",
    "snapshot_diff" -> (s"SELECT *, 'insert' AS change_type FROM lineitem " +
      s"WHERE l_shipdate >= TIMESTAMP '$shipCut'"),
    // the %10 upsert rewrote o_totalprice to 0.0: each shadowed cell
    // is a delete of the old row + an insert of the new one (rows
    // whose price was already 0.0 would cancel; TPC-H has none, the
    // <> guard keeps the oracle honest anyway)
    "snapshot_diff_upsert" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "0.0 AS o_totalprice, o_orderdate, o_orderpriority, " +
      "'insert' AS change_type FROM orders " +
      "WHERE o_orderkey % 10 = 0 AND o_totalprice <> 0.0 " +
      "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "o_totalprice, o_orderdate, o_orderpriority, " +
      "'delete' AS change_type FROM orders " +
      "WHERE o_orderkey % 10 = 0 AND o_totalprice <> 0.0"),
    "source_read" -> (s"SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '$shipCut' " +
      "AND l_quantity < 24.0"),
    "catalog_sql" -> ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
      "WHERE o_orderkey <= 20000 AND o_totalprice > 100000.0"),
    "catalog_overwrite" -> ("SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice, " +
      "'post' AS phase FROM orders WHERE o_orderkey > 20000 " +
      "UNION ALL SELECT o_orderkey, o_totalprice, 'pre' AS phase " +
      "FROM orders WHERE o_orderkey <= 20000"),
    "catalog_delete" -> ("SELECT * FROM orders " +
      "WHERE NOT (o_orderstatus = 'F' OR o_totalprice < 1000.0)"),
    "catalog_update" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 10 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, " +
      "CASE WHEN o_orderkey % 10 = 0 THEN 'RE-PRICED' ELSE o_orderpriority END " +
      "AS o_orderpriority FROM orders"),
    "catalog_agg_meta" -> ("SELECT count(*) AS n_rows, min(o_orderkey) AS min_key, " +
      "max(o_orderkey) AS max_key FROM orders"),
    "catalog_consolidate" -> "SELECT * FROM orders",
    "catalog_merge" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END " +
      "AS o_totalprice, o_orderdate, o_orderpriority FROM orders " +
      "UNION ALL SELECT o_orderkey + 100000000, CAST(0 AS BIGINT), 'N', 42.0, " +
      "CAST(NULL AS TIMESTAMP), 'NEW' FROM orders WHERE o_orderkey % 1000 = 0"),
    "delete_cond" -> "SELECT * FROM orders WHERE NOT (o_orderstatus = 'F')",
    "upsert_shadow" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 10 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders"),
    "array_roundtrip" -> "SELECT * FROM lineitem",
    // the decrypted read must equal the plaintext source byte-for-byte
    "encrypted_read" -> "SELECT * FROM supplier",
    "consolidated_read" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CASE WHEN o_orderkey % 10 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice, " +
      "o_orderdate, o_orderpriority FROM orders WHERE NOT (o_orderstatus = 'F')"),
    "evolved_read" -> ("SELECT r_regionkey, r_name, CAST(42 AS BIGINT) AS bonus " +
      "FROM region"),
    "upgraded_read" -> ("SELECT r_regionkey, r_name, CAST(42 AS BIGINT) AS bonus " +
      "FROM region"),
    "stream_ingest_read" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "stream_dedup_read" ->
      "SELECT DISTINCT event_id, user_id, event_type, value FROM events",
    "stream_neardedup_gate" -> ("SELECT true AS dedup_complete, " +
      "true AS edits_dropped, true AS fresh_kept"),
    "stream_semantic_gate" -> ("SELECT CAST(count(*) + 5 AS BIGINT) AS n_rows, " +
      "true AS dups_dropped, true AS fresh_kept FROM embeddings"),
    "enum_infer_roundtrip" -> "SELECT * FROM customer",
    "qc_enum_order" -> ("WITH lv AS (SELECT c_custkey, CASE WHEN c_acctbal < 0 " +
      "THEN 'LOW' WHEN c_acctbal < 5000 THEN 'MID' ELSE 'HIGH' END AS level " +
      "FROM customer) SELECT * FROM lv WHERE level IN ('LOW', 'MID')"),
    "multivalue_cells" -> ("SELECT l_orderkey, l_linenumber, " +
      "l_extendedprice AS re, l_discount AS im FROM lineitem"),
    "ev_sessionize_batch" -> ("SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
      "count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value " +
      "FROM (SELECT user_id, value, sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS session_id FROM (" +
      "SELECT user_id, ts, event_id, value, CASE WHEN " +
      "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR " +
      "epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER (" +
      "PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) > 1800000000 " +
      "THEN 1 ELSE 0 END AS gap FROM events) g) s " +
      "GROUP BY user_id, session_id"),

    "group_agg" -> ("SELECT l_returnflag, l_linestatus, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS sum_price, " +
      "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "join_agg" -> ("SELECT o_orderpriority, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS revenue, " +
      "count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "GROUP BY o_orderpriority"),
    "topk_orders" -> ("SELECT * FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_orderpriority " +
      "ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders) WHERE rank <= 10"),

    "dedup_exact" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "dedup_exact_hash" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    // edit-distance near-dups are EXACT (PassJoin pigeonhole candidates,
    // threshold-bounded verify), so brute force is a value-exact oracle
    "edit_neardups" -> ("SELECT a.p_partkey AS a, b.p_partkey AS b, " +
      "CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist " +
      "FROM part a JOIN part b ON a.p_partkey < b.p_partkey " +
      "WHERE levenshtein(a.p_name, b.p_name) <= 2"),
    "edit_join" -> ("SELECT l.p_partkey AS lid, r.rid, " +
      "CAST(levenshtein(l.p_name, r.r_name) AS INTEGER) AS dist FROM part l " +
      "JOIN (SELECT p_partkey + 100000 AS rid, p_name || 's' AS r_name " +
      "FROM part) r ON levenshtein(l.p_name, r.r_name) <= 1"),
    "edit_join_best" -> ("SELECT lid, rid, dist FROM (" +
      "SELECT l.p_partkey AS lid, r.rid, " +
      "CAST(levenshtein(l.p_name, r.r_name) AS INTEGER) AS dist, " +
      "row_number() OVER (PARTITION BY l.p_partkey " +
      "ORDER BY levenshtein(l.p_name, r.r_name), r.rid) AS rn " +
      "FROM part l JOIN (SELECT p_partkey + 100000 AS rid, " +
      "p_name || 's' AS r_name FROM part) r " +
      "ON levenshtein(l.p_name, r.r_name) <= 2) WHERE rn = 1"),
    // both gate quantities are structural invariants of an EXACT
    // cluster-min-id fuzzy drop — pinned to zero (gate convention)
    "edit_drop_gate" -> ("SELECT CAST(0 AS BIGINT) AS planted_survivors, " +
      "CAST(0 AS BIGINT) AS survivor_pairs_within_k"),

    "text_tokens" -> ("SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE length(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens " +
      "FROM documents"),
    "text_chunks" -> ("WITH toks AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS t FROM documents " +
      "WHERE length(trim(text)) > 0), " +
      "n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks), " +
      "c AS (SELECT doc_id, t, n, unnest(generate_series(0, " +
      "CASE WHEN n <= 64 THEN 0 ELSE CAST(ceil(CAST(n - 16 AS DOUBLE) / 48) " +
      "AS BIGINT) - 1 END)) AS chunk_id FROM n) " +
      "SELECT doc_id, chunk_id, least(64, n - chunk_id * 48) AS n_tokens, " +
      "array_to_string(t[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, n)], ' ') " +
      "AS chunk FROM c"),
    "packing_gate" -> (bpeDocCountsCte +
      " SELECT count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS total_tokens, " +
      "true AS well_formed, true AS efficient FROM docbpe WHERE n_bpe > 0"),
    // every rule scalar recomputed with the shared tokenizer; the
    // ellipsis count divides by 3.0 (double division, like Spark's /)
    "gopher_rules" -> ("WITH tk AS (SELECT doc_id, text, " +
      "string_split_regex(trim(text), '\\s+') AS t, " +
      "string_split(text, chr(10)) AS ln, " +
      "string_split_regex(trim(lower(text)), '\\s+') AS tl FROM documents), " +
      "m AS (SELECT doc_id, len(t) AS ntok, " +
      "CAST(length(array_to_string(t, '')) AS DOUBLE) " +
      "/ greatest(CAST(len(t) AS DOUBLE), 1.0) AS meanlen, " +
      "(CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) " +
      "+ (length(text) - length(replace(text, '...', ''))) / 3.0) " +
      "/ greatest(CAST(len(t) AS DOUBLE), 1.0) AS symr, " +
      "CAST(len(list_filter(ln, l -> starts_with(trim(l), '- ') " +
      "OR starts_with(trim(l), '* ') OR starts_with(trim(l), chr(8226)))) " +
      "AS DOUBLE) / greatest(CAST(len(ln) AS DOUBLE), 1.0) AS bf, " +
      "CAST(len(list_filter(ln, l -> ends_with(trim(l), '...'))) AS DOUBLE) " +
      "/ greatest(CAST(len(ln) AS DOUBLE), 1.0) AS ef, " +
      "CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) " +
      "/ greatest(CAST(len(t) AS DOUBLE), 1.0) AS af, " +
      "len(list_intersect(list_distinct(tl), " +
      "['the','be','to','of','and','that','have','with'])) AS ns FROM tk) " +
      "SELECT doc_id, (ntok >= 50 AND ntok <= 100000 AND meanlen >= 3.0 " +
      "AND meanlen <= 10.0 AND symr < 0.1 AND bf < 0.9 AND ef < 0.3 " +
      "AND af > 0.8 AND ns >= 2) AS keep, " +
      "ntok >= 50 AND ntok <= 100000 AS ok_word_count, " +
      "meanlen >= 3.0 AND meanlen <= 10.0 AS ok_mean_word_len, " +
      "symr < 0.1 AS ok_symbol_ratio, bf < 0.9 AS ok_bullet_lines, " +
      "ef < 0.3 AS ok_ellipsis_lines, af > 0.8 AS ok_alpha_words, " +
      "ns >= 2 AS ok_stopwords FROM m"),
    "text_quality" -> ("SELECT doc_id, CAST(length(text) AS BIGINT) AS len, " +
      "round(CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) " +
      "/ greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS alpha_ratio, " +
      "round(CAST(length(regexp_replace(text, '[^.,;:!?''\"]', '', 'g')) AS DOUBLE) " +
      "/ greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio FROM documents"),
    "text_entropy" -> ("WITH w AS (SELECT doc_id, " +
      "unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents), " +
      "c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2), " +
      "n AS (SELECT doc_id, sum(cnt) AS n FROM c GROUP BY 1) " +
      "SELECT c.doc_id, round(CASE WHEN any_value(n.n) <= 1 THEN 0.0 ELSE " +
      "sum((cnt / CAST(n.n AS DOUBLE)) * log2(CAST(n.n AS DOUBLE) / cnt)) END, 6) " +
      "AS word_entropy FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY c.doc_id"),
    "text_tokens_bpe" -> bpeOracleSql,
    "text_token_ids" -> bpeTokenIdsOracleSql,
    "packed_ids_gate" -> (bpeDocCountsCte +
      " SELECT CAST(sum(n_bpe) AS BIGINT) AS total_tokens, " +
      "true AS sizes_consistent, true AS budget_respected FROM docbpe"),
    // replay: exact per-source token totals -> water-filled capacity
    // (min tokens/share) -> rates (share * capacity / tokens), same
    // association order as the Scala; md5-24-bit keep with trunc (the
    // Spark double->long cast truncates)
    "token_mixture_sample" -> ("WITH tk AS (SELECT doc_id, source, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
      "len(string_split_regex(trim(text), '\\s+')) END AS n FROM documents), " +
      "sh(source, share) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)), " +
      "tot AS (SELECT tk.source, CAST(sum(n) AS BIGINT) AS t, any_value(share) AS share " +
      "FROM tk JOIN sh ON tk.source = sh.source GROUP BY tk.source), " +
      "cap AS (SELECT min(CAST(t AS DOUBLE) / share) AS c FROM tot), " +
      "rt AS (SELECT source, share * (SELECT c FROM cap) / CAST(t AS DOUBLE) AS r " +
      "FROM tot) " +
      "SELECT tk.doc_id, tk.source, CAST(tk.n AS BIGINT) AS n_tokens " +
      "FROM tk JOIN rt ON tk.source = rt.source " +
      "WHERE CAST(concat('0x', substring(md5(concat('graft', " +
      "CAST(tk.doc_id AS VARCHAR))), 1, 6)) AS BIGINT) < " +
      "CAST(trunc(rt.r * 16777216.0) AS BIGINT)"),
    "text_fingerprint" -> "SELECT doc_id, md5(text) AS fp FROM documents",
    // Stupid-Backoff bigram LM replayed from scratch: tokenize, count
    // both orders, apply the same frequency floors, then score
    // P(w|pw) = cb/cw(pw) with backoff 0.4 * (cw(w) else 0.1)/N
    "text_perplexity" -> ("WITH tk AS (SELECT doc_id, " +
      "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), " +
      "x -> x <> '') AS t FROM documents), " +
      "pos AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i, " +
      "t FROM tk), " +
      "pairs AS (SELECT doc_id, t[i-1] AS pw, w FROM pos WHERE i > 1), " +
      "uniall AS (SELECT w, count(*) AS cw FROM pos GROUP BY w), " +
      "n AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uniall), " +
      "uni AS (SELECT w, cw FROM uniall WHERE cw >= 2), " +
      "big AS (SELECT pw, w, count(*) AS cb FROM pairs GROUP BY pw, w " +
      "HAVING count(*) >= 3), " +
      "sc AS (SELECT p.doc_id, CASE WHEN b.cb IS NOT NULL THEN " +
      "log10(CAST(b.cb AS DOUBLE) / CAST(up.cw AS DOUBLE)) " +
      "ELSE log10(0.4 * coalesce(CAST(uw.cw AS DOUBLE), 0.1) / (SELECT n FROM n)) " +
      "END AS lp FROM pairs p " +
      "LEFT JOIN big b ON p.pw = b.pw AND p.w = b.w " +
      "LEFT JOIN uni up ON p.pw = up.w " +
      "LEFT JOIN uni uw ON p.w = uw.w) " +
      "SELECT doc_id, count(*) AS n_scored, round(avg(lp), 6) AS avg_logp, " +
      "round(pow(10, -avg(lp)), 6) AS ppl FROM sc GROUP BY doc_id"),
    "tfidf_keywords" -> ("WITH tk AS (SELECT doc_id, " +
      "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), " +
      "x -> x <> '') AS t FROM documents), " +
      "n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents), " +
      "tfc AS (SELECT doc_id, unnest(t) AS term FROM tk), " +
      "tfg AS (SELECT doc_id, term, count(*) AS tf FROM tfc GROUP BY doc_id, term), " +
      "dfc AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfg GROUP BY term), " +
      "sc AS (SELECT doc_id, term, " +
      "round(tf * ln((SELECT nd FROM n) / df), 6) AS score " +
      "FROM tfg JOIN dfc USING (term)), " +
      "rk AS (SELECT doc_id, term, score, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank " +
      "FROM sc) " +
      "SELECT doc_id, term, score, CAST(rank AS BIGINT) AS rank " +
      "FROM rk WHERE rank <= 5"),
    "pmi_collocations" -> ("WITH tk AS (SELECT doc_id, " +
      "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), " +
      "x -> x <> '') AS t FROM documents), " +
      "pos AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i, " +
      "t FROM tk), " +
      "pairs AS (SELECT t[i-1] AS pw, w FROM pos WHERE i > 1), " +
      "uniall AS (SELECT w, count(*) AS cw FROM pos GROUP BY w), " +
      "nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uniall), " +
      "nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM pairs), " +
      "uni AS (SELECT w, cw FROM uniall WHERE cw >= 2), " +
      "big AS (SELECT pw, w, count(*) AS cb FROM pairs GROUP BY pw, w " +
      "HAVING count(*) >= 3), " +
      "j AS (SELECT b.pw, b.w, b.cb, " +
      "round(log10((CAST(b.cb AS DOUBLE) / (SELECT nb FROM nb)) / " +
      "((CAST(ua.cw AS DOUBLE) / (SELECT nu FROM nu)) * " +
      "(CAST(uw.cw AS DOUBLE) / (SELECT nu FROM nu)))), 6) AS pmi " +
      "FROM big b JOIN uni ua ON b.pw = ua.w JOIN uni uw ON b.w = uw.w) " +
      "SELECT pw, w, cb, pmi FROM j ORDER BY pmi DESC, pw, w LIMIT 50"),
    // curation pack: replant the same synthetic PII, re-redact in RE2
    "pii_redact" -> ("SELECT doc_id, " +
      "regexp_replace(regexp_replace(regexp_replace(" +
      "substr(text, 1, 40) || ' contact doc' || doc_id || '@example.com or 555-123-4567 at 10.0.0.' || (doc_id % 256), " +
      """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), """ +
      """'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'), """ +
      """'\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean_text FROM documents"""),
    "source_cap" -> ("SELECT doc_id, source FROM (SELECT doc_id, source, " +
      "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn " +
      "FROM documents) WHERE rn <= 10"),
    "url_curation" ->
      s"WITH $urlOracleCtes SELECT doc_id, url_norm, host, domain FROM fin",
    "url_domain_cap" ->
      (s"WITH $urlOracleCtes SELECT doc_id, domain FROM " +
        "(SELECT doc_id, domain, row_number() OVER " +
        "(PARTITION BY domain ORDER BY doc_id) AS rn FROM fin) WHERE rn <= 25"),
    "boilerplate_gate" ->
      (s"WITH $boilerOracleCtes SELECT doc_id, " +
        "coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '') " +
        "AS clean_text, count(*) AS n_lines, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed " +
        "FROM mk GROUP BY doc_id"),
    "text_clean" ->
      (s"WITH $cleanOracleCtes SELECT doc_id, clean_text, " +
        "CAST(length(clean_text) AS INT) AS n_chars FROM tc1"),
    // the repair + NFC chain must land on the clean COMPOSED text:
    // chr(233) = e-acute (composed), chr(8212) = em-dash; case 0 is
    // the ASCII identity and case 2 is fixed by NFC alone
    "mojibake_repair" -> ("WITH x AS (SELECT doc_id, text || " +
      "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '' " +
      "WHEN 1 THEN ' caf' || chr(233) " +
      "WHEN 2 THEN ' ' || chr(233) || 'cole' " +
      "ELSE ' a' || chr(8212) || 'b' END AS clean_text FROM documents) " +
      "SELECT doc_id, clean_text, " +
      "CAST(length(clean_text) AS INT) AS n_chars FROM x"),
    "markup_strip" ->
      (s"WITH $markupOracleCtes SELECT doc_id, clean_text, " +
        "CAST(length(clean_text) AS INT) AS n_chars FROM mh1"),
    "paragraph_dedup" ->
      (s"WITH $paraOracleCtes SELECT doc_id, " +
        "coalesce(string_agg(para, chr(10)||chr(10) ORDER BY pos) " +
        "FILTER (WHERE keep), '') AS clean_text, " +
        "count(*) AS n_paragraphs, " +
        "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed " +
        "FROM pmk GROUP BY doc_id"),
    "text_repetition" -> ("WITH s AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS toks FROM documents) " +
      "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
      "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct, " +
      "round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) " +
      "/ greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS dup_ratio FROM s"),
    // contamination: 8-grams of every doc vs 20-token snippets
    // (tokens 11..30) of every 20th doc; count distinct shared grams.
    // DuckDB slices are 1-based inclusive: t[i:i+7] = 8 tokens.
    // STRICT on both sides (greatest(len-7, 0) makes generate_series
    // empty for <8-token texts) — matching wordNgramsStrict; a
    // whole-text fallback gram would match unrelated short texts.
    "contamination" -> ("WITH toks AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS t FROM documents), " +
      // the bench snippet is a STRING round-trip in Spark (token
      // slice -> concat_ws " " -> retokenized by the gram kernel), so
      // the oracle re-splits the joined slice too — a trailing/leading
      // EMPTY edge token in the slice collapses identically on both
      // engines
      "bgrams AS (SELECT DISTINCT unnest([array_to_string(bs[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(bs)-7, 0))]) AS g " +
      "FROM (SELECT string_split_regex(trim(array_to_string(t[11:30], ' ')), '\\s+') AS bs " +
      "FROM toks WHERE doc_id % 20 = 0)), " +
      "cgrams AS (SELECT DISTINCT doc_id, unnest([array_to_string(t[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(t)-7, 0))]) AS g " +
      "FROM toks) " +
      "SELECT doc_id, count(*) AS shared_grams FROM cgrams " +
      "JOIN bgrams USING (g) GROUP BY doc_id"),
    // bloom path = exact semantics (no false negatives + FP-killing
    // verification join), so the oracle is the SAME exact-join SQL
    "bloom_contamination" -> ("WITH toks AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS t FROM documents), " +
      // the bench snippet is a STRING round-trip in Spark (token
      // slice -> concat_ws " " -> retokenized by the gram kernel), so
      // the oracle re-splits the joined slice too — a trailing/leading
      // EMPTY edge token in the slice collapses identically on both
      // engines
      "bgrams AS (SELECT DISTINCT unnest([array_to_string(bs[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(bs)-7, 0))]) AS g " +
      "FROM (SELECT string_split_regex(trim(array_to_string(t[11:30], ' ')), '\\s+') AS bs " +
      "FROM toks WHERE doc_id % 20 = 0)), " +
      "cgrams AS (SELECT DISTINCT doc_id, unnest([array_to_string(t[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(t)-7, 0))]) AS g " +
      "FROM toks) " +
      "SELECT doc_id, count(*) AS shared_grams FROM cgrams " +
      "JOIN bgrams USING (g) GROUP BY doc_id"),
    "dup_spans" -> ("WITH toks AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS t FROM documents), " +
      "gr AS (SELECT DISTINCT doc_id, unnest([array_to_string(t[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(t)-7, 0))]) AS g FROM toks), " +
      "c AS (SELECT g, count(*) AS docs FROM gr GROUP BY g) " +
      "SELECT doc_id, count(*) AS n_grams, " +
      "CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams, " +
      "round(CAST(sum(CASE WHEN c.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) " +
      "/ count(*), 6) AS dup_fraction " +
      "FROM gr JOIN c USING (g) GROUP BY doc_id"),
    // duplicate-span REMOVAL, keep-first: DuckDB finds each repeated
    // 8-gram's first occurrence with window functions over STRING
    // grams (Spark ships xxhash64 — equal modulo ~2^-64 collisions),
    // re-expands removed windows to covered token indexes, and
    // rebuilds the surviving text in token order
    "dedup_substring" -> ("WITH tk AS (SELECT doc_id, " +
      "string_split_regex(trim(text), '\\s+') AS t FROM documents), " +
      // exact position enumeration (same comprehension idiom as the
      // contamination/dup_spans oracles — no cap, no range fan-out);
      // parallel unnests zip the aligned lists
      "wins AS (SELECT doc_id, " +
      "unnest([i-1 for i in generate_series(1, greatest(len(t)-7, 0))]) AS pos, " +
      "unnest([array_to_string(t[i:i+7], ' ') " +
      "for i in generate_series(1, greatest(len(t)-7, 0))]) AS g FROM tk), " +
      "mk AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt, " +
      "row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM wins), " +
      "cov AS (SELECT DISTINCT doc_id, pos + j.range AS ti FROM mk, range(0,8) j " +
      "WHERE cnt >= 2 AND rn > 1), " +
      "tok AS (SELECT doc_id, " +
      "unnest([i-1 for i in generate_series(1, len(t))]) AS ti, " +
      "unnest(t) AS tok FROM tk), " +
      "kept AS (SELECT tok.doc_id, tok.ti, tok.tok FROM tok " +
      "LEFT JOIN cov USING (doc_id, ti) WHERE cov.ti IS NULL), " +
      "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text, " +
      "count(*) AS kept_n FROM kept GROUP BY doc_id) " +
      "SELECT tk.doc_id, coalesce(agg.clean_text, '') AS clean_text, " +
      "CAST(len(tk.t) AS BIGINT) AS n_tokens, " +
      "CAST(len(tk.t) - coalesce(agg.kept_n, 0) AS BIGINT) AS n_removed " +
      "FROM tk LEFT JOIN agg USING (doc_id)"),
    // BM25: same tokenizer as text_perplexity; every constant an
    // exact double (k1=1.25, b=0.75); avgdl = one exact-int division;
    // identical association order to the Spark formula
    "bm25_scores" -> (s"WITH $bm25OracleCtes " +
      "SELECT query_id, doc_id, round(score, 6) AS score FROM sc"),
    "bm25_topk" -> (s"WITH $bm25OracleCtes " +
      "SELECT query_id, doc_id, score, rank FROM (SELECT query_id, doc_id, " +
      "round(score, 6) AS score, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc) WHERE rank <= 10"),
    "bm25_index_topk" -> (s"WITH $bm25OracleCtes " +
      "SELECT query_id, doc_id, score, rank FROM (SELECT query_id, doc_id, " +
      "round(score, 6) AS score, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc) WHERE rank <= 10"),
    // AND mode: need = count of DISTINCT query terms present in the
    // corpus vocabulary; a pair survives iff its matched-term count
    // (one contribution per (doc, term)) equals it
    // filtered retrieval: GLOBAL df/avgdl (sc is unchanged), rank
    // assigned after the lang restriction
    "bm25_topk_filtered" -> (s"WITH $bm25OracleCtes " +
      "SELECT query_id, doc_id, score, rank FROM (SELECT query_id, sc.doc_id, " +
      "round(score, 6) AS score, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY round(score, 6) DESC, sc.doc_id) AS rank FROM sc " +
      "JOIN documents d ON sc.doc_id = d.doc_id AND d.lang = 'en') " +
      "WHERE rank <= 10"),
    // hybrid RRF: both rankings rebuilt (BM25 on rounded score, cosine
    // on raw score — matching each source's own rank contract), fused
    // by 1/(60+rank); sum of two exact divisions is order-exact
    "hybrid_rrf" -> (s"WITH $bm25OracleCtes, " +
      "lex AS (SELECT query_id, doc_id, rank FROM (SELECT query_id, doc_id, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY round(score, 6) DESC, doc_id) AS rank FROM sc) WHERE rank <= 20), " +
      "cvec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "qvec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
      "WHERE vec_id % 40 = 0), " +
      "sem0 AS (SELECT qvec.vec_id AS query_id, cvec.vec_id AS doc_id, " +
      "list_dot_product(qvec.v, cvec.v) / (sqrt(list_dot_product(qvec.v, qvec.v)) * " +
      "sqrt(list_dot_product(cvec.v, cvec.v))) AS cosine FROM cvec, qvec), " +
      "sem AS (SELECT query_id, doc_id, rank FROM (SELECT query_id, doc_id, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cosine DESC, doc_id) AS rank FROM sem0) WHERE rank <= 20), " +
      "u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem), " +
      "f AS (SELECT query_id, doc_id, round(sum(1.0/(60 + rank)), 6) AS score " +
      "FROM u GROUP BY query_id, doc_id) " +
      "SELECT query_id, doc_id, score, CAST(row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank " +
      "FROM f QUALIFY rank <= 10"),
    "bm25_topk_and" -> (s"WITH $bm25OracleCtes, " +
      "need AS (SELECT qt.query_id, count(DISTINCT qt.w) AS nd FROM qt " +
      "JOIN dfc ON qt.w = dfc.w GROUP BY qt.query_id), " +
      "scn AS (SELECT qt.query_id, tfc.doc_id, count(*) AS nm, " +
      "sum(ln(1 + (st.nd - dfc.df + 0.5) / (dfc.df + 0.5)) * tfc.tf * 2.25 / " +
      "(tfc.tf + 1.25 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS score " +
      "FROM qt JOIN tfc USING (w) JOIN dfc USING (w) " +
      "JOIN dl ON tfc.doc_id = dl.doc_id CROSS JOIN st " +
      "GROUP BY qt.query_id, tfc.doc_id) " +
      "SELECT query_id, doc_id, score, rank FROM (SELECT scn.query_id, doc_id, " +
      "round(score, 6) AS score, row_number() OVER (PARTITION BY scn.query_id " +
      "ORDER BY round(score, 6) DESC, doc_id) AS rank FROM scn " +
      "JOIN need ON scn.query_id = need.query_id AND scn.nm = need.nd) " +
      "WHERE rank <= 10"),
    // exact multi-phrase containment: brute-force per-phrase contains
    "phrase_scan" -> ("SELECT d.doc_id, p.phrase FROM documents d JOIN " +
      "(SELECT unnest([" +
      PhraseList.map(p => s"'$p'").mkString(", ") +
      "]) AS phrase) p ON contains(d.text, p.phrase)"),
    // language ID: token-count per stopword table, winner = max (score,
    // lang) — mirrors the array_max(struct(score, lang)) tie-break
    // (lexicographically larger lang wins ties)
    "text_langid" -> langIdOracleSql,
    // stubbed decode is a byte-sum derivation — recomputable exactly
    // from the (all-ASCII) text bytes
    "media_decode" -> ("WITH b AS (SELECT doc_id, CAST(coalesce(list_sum(" +
      "list_transform(range(1, length(text)+1), p -> ord(text[p]))), 0) AS BIGINT) AS s, " +
      "length(text) AS n FROM documents) " +
      "SELECT doc_id, CAST(32 + s % 97 AS INT) AS width, " +
      "CAST(32 + (s // 97) % 89 AS INT) AS height, CAST(3 AS INT) AS channels, " +
      "round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(s AS DOUBLE) / n END, 6) AS mean_intensity " +
      "FROM b"),
    // dHash replay: base byte index of sampled pixel (x,y) in the
    // planted P6 (w=8, h=4): doc*7 + (sy*8 + sx)*3 with sy = y*4//8,
    // sx = x*8//9; gray = three consecutive planted bytes summed
    "media_dhash" -> ("WITH gp AS (SELECT d.doc_id, x.x, y.y, " +
      "(d.doc_id*7 + (((y.y*4)//8)*8 + (x.x*8)//9)*3) AS b FROM documents d " +
      "CROSS JOIN range(0,9) x(x) CROSS JOIN range(0,8) y(y)), " +
      "g AS (SELECT doc_id, x, y, (b % 256) + ((b+1) % 256) + ((b+2) % 256) " +
      "AS gray FROM gp), " +
      "bits AS (SELECT a.doc_id, a.y, a.x, CASE WHEN b2.gray > a.gray " +
      "THEN '1' ELSE '0' END AS bit FROM g a JOIN g b2 ON a.doc_id = b2.doc_id " +
      "AND a.y = b2.y AND b2.x = a.x + 1 WHERE a.x < 8) " +
      "SELECT doc_id, string_agg(bit, '' ORDER BY y, x) AS dhash_bits " +
      "FROM bits GROUP BY doc_id"),
    "media_dhash_gate" -> ("SELECT CAST(2 * count(*) AS BIGINT) AS n_imgs, " +
      "CAST(0 AS BIGINT) AS planted_missed, true AS all_decoded FROM documents"),
    // sampled-count closed form: ceil(nf/2) even-index frames per doc
    "media_avi_frames_gate" -> ("SELECT CAST(sum((2 + doc_id % 3 + 1) // 2) " +
      "AS BIGINT) AS n_frames_sampled, CAST(0 AS BIGINT) AS mismatches " +
      "FROM documents"),
    // per-frame gradient means in closed form; stride 2 samples the
    // even frame indices
    "media_frames" -> ("WITH p AS (SELECT doc_id, 6 + doc_id % 4 AS w, " +
      "3 + doc_id % 2 AS h, doc_id % 160 AS r0, (3*doc_id) % 160 AS g0, " +
      "(7*doc_id) % 160 AS b0, 2 + doc_id % 3 AS nf FROM documents), " +
      "fr AS (SELECT p.*, f.range AS f FROM p, range(0,5) f " +
      "WHERE f.range < nf AND f.range % 2 = 0) " +
      "SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width, " +
      "CAST(h AS INT) AS height, " +
      "round(CAST(h * (w * (r0 + g0 + b0 + 41*f) + 3 * (w*(w-1)//2)) AS DOUBLE) " +
      "/ (w*h*3), 6) AS mean_intensity FROM fr"),
    // composited frames: frame f's canvas = base everywhere except
    // the 2 diagonal pixels of each 2x2 patch 1..f (transparent
    // anti-diagonal leaves base showing) — mean replayed exactly
    "media_frames_composited" -> ("WITH d AS (SELECT doc_id, " +
      "6 + doc_id % 4 AS w, 4 AS h, 2 + doc_id % 3 AS nf, " +
      "(doc_id % 200) + ((3*doc_id) % 200) + ((7*doc_id) % 200) AS sb " +
      "FROM documents), " +
      "fr AS (SELECT d.*, f.range AS f FROM d, range(0,5) f " +
      "WHERE f.range < nf AND f.range % 2 = 0), " +
      "pj AS (SELECT fr.doc_id, fr.f, " +
      "((fr.doc_id*11 + j.range*31) % 200) + ((fr.doc_id*13 + j.range*37) % 200) + " +
      "((fr.doc_id*17 + j.range*41) % 200) AS sp " +
      "FROM fr, range(1,5) j WHERE j.range <= fr.f), " +
      "m AS (SELECT fr.doc_id, fr.f, fr.w, fr.h, fr.sb, " +
      "coalesce(sum(pj.sp), 0) AS sumsp, count(pj.sp) AS np " +
      "FROM fr LEFT JOIN pj ON fr.doc_id = pj.doc_id AND fr.f = pj.f " +
      "GROUP BY fr.doc_id, fr.f, fr.w, fr.h, fr.sb) " +
      "SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width, " +
      "CAST(h AS INT) AS height, " +
      "round(CAST((w*h - 2*np)*sb + 2*sumsp AS DOUBLE) / (w*h*3), 6) " +
      "AS mean_intensity FROM m"),
    // channel-major histogram buckets (idx c*4+b) then means (12+c),
    // all exact integer ratios over the 32 pixels
    "media_image_features" -> ("WITH px AS (SELECT doc_id, p.range AS p, " +
      "c.range AS c, (doc_id*7 + 3*p.range + c.range) % 256 AS v " +
      "FROM documents, range(0,32) p, range(0,3) c), " +
      "hb AS (SELECT doc_id, CAST(c*4 + b.range AS INT) AS feature_idx, " +
      "round(sum(CASE WHEN v // 64 = b.range THEN 1 ELSE 0 END) / 32.0, 6) " +
      "AS value FROM px, range(0,4) b GROUP BY doc_id, c, b.range), " +
      "mn AS (SELECT doc_id, CAST(12 + c AS INT) AS feature_idx, " +
      "round(sum(v) / 32.0 / 255.0, 6) AS value FROM px GROUP BY doc_id, c) " +
      "SELECT * FROM hb UNION ALL SELECT * FROM mn"),
    // every 2x2 block mean replayed in exact integer math from the
    // planted gradient
    "media_resize" -> ("WITH d AS (SELECT doc_id, " +
      "8 + 2*(doc_id % 4) AS w, 4 + 2*(doc_id % 2) AS h FROM documents), " +
      "s AS (SELECT d.doc_id, d.w, d.h, y.range AS y, x.range AS x, " +
      "c.range AS c FROM d, range(0,3) y, range(0,7) x, range(0,3) c " +
      "WHERE y.range < d.h // 2 AND x.range < d.w // 2) " +
      "SELECT doc_id, CAST(w // 2 AS INT) AS width, " +
      "CAST(h // 2 AS INT) AS height, CAST(3 AS INT) AS channels, " +
      "round(avg(((doc_id*7 + ((2*y)*w + 2*x)*3 + c) % 256 " +
      "+ (doc_id*7 + ((2*y)*w + 2*x + 1)*3 + c) % 256 " +
      "+ (doc_id*7 + ((2*y + 1)*w + 2*x)*3 + c) % 256 " +
      "+ (doc_id*7 + ((2*y + 1)*w + 2*x + 1)*3 + c) % 256) // 4), 6) " +
      "AS mean_intensity FROM s GROUP BY doc_id, w, h"),
    "media_decode_ppm" -> ("SELECT d.doc_id, CAST(8 AS INT) AS width, " +
      "CAST(4 AS INT) AS height, CAST(3 AS INT) AS channels, " +
      "round(avg(CAST((d.doc_id * 7 + r.j) % 256 AS DOUBLE)), 6) AS mean_intensity " +
      "FROM documents d CROSS JOIN range(0, 96) r(j) GROUP BY d.doc_id"),
    // closed-form pixel sum of the planted gradient PNGs: per row the
    // samples are (c0 + x) for each channel c0 in (r0,g0,b0), x<w, so
    // sum = h*(w*(r0+g0+b0) + 3*w*(w-1)/2); one integer->double
    // division on both engines keeps the mean bit-exact
    "media_decode_png" -> ("WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w, " +
      "4 + doc_id % 8 AS h, doc_id % 160 AS r0, (3 * doc_id) % 160 AS g0, " +
      "(7 * doc_id) % 160 AS b0 FROM documents) " +
      "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
      "CAST(3 AS INT) AS channels, " +
      "round(CAST(h * (w * (r0 + g0 + b0) + 3 * (w * (w - 1) // 2)) AS DOUBLE) " +
      "/ (w * h * 3), 6) AS mean_intensity FROM p"),
    // byte-identical gradient to media_decode_png, TIFF container:
    // tiffRgb plants, the JDK's independent TIFF reader decodes
    "media_decode_tiff" -> ("WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w, " +
      "4 + doc_id % 8 AS h, doc_id % 160 AS r0, (3 * doc_id) % 160 AS g0, " +
      "(7 * doc_id) % 160 AS b0 FROM documents) " +
      "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
      "CAST(3 AS INT) AS channels, " +
      "round(CAST(h * (w * (r0 + g0 + b0) + 3 * (w * (w - 1) // 2)) AS DOUBLE) " +
      "/ (w * h * 3), 6) AS mean_intensity FROM p"),
    // identical md5-prefix membership arithmetic; floor() because
    // DuckDB CAST(double AS BIGINT) rounds where Spark/Scala truncate
    "shard_assign" -> ("WITH h AS (SELECT doc_id, " +
      "md5(concat('graft', CAST(doc_id AS VARCHAR))) AS hx FROM documents), " +
      "s AS (SELECT doc_id, hx, CAST(CAST(concat('0x', substring(hx, 1, 6)) " +
      "AS BIGINT) % 16 AS INT) AS shard FROM h) " +
      "SELECT doc_id, shard, CAST(row_number() OVER " +
      "(PARTITION BY shard ORDER BY hx, doc_id) - 1 AS BIGINT) AS pos FROM s"),
    "det_sample" -> ("SELECT * FROM documents WHERE " +
      "CAST(concat('0x', substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 6)) " +
      "AS BIGINT) < CAST(floor(0.3 * 16777216) AS BIGINT)"),
    // A-ES key replayed row by row: u = (md5-24bit + 0.5)/2^24,
    // key = pow(u, 1/weight), top 400 by (key desc, doc_id)
    "weighted_sample" -> ("SELECT doc_id, text, lang, source, n_chars FROM (" +
      "SELECT *, row_number() OVER (ORDER BY pow(" +
      "(CAST(concat('0x', substring(md5(concat('graft', " +
      "CAST(doc_id AS VARCHAR))), 1, 6)) AS BIGINT) + 0.5) / 16777216.0, " +
      "1.0 / n_chars) DESC, doc_id) AS rn FROM documents WHERE n_chars > 0) " +
      "WHERE rn <= 400"),
    "stratified_sample" -> ("SELECT doc_id, text, lang, source, n_chars FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY lang ORDER BY " +
      "CAST(concat('0x', substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 6)) " +
      "AS BIGINT), doc_id) AS rn FROM documents) WHERE rn <= 25"),
    "token_budget_sample" -> ("WITH tk AS (SELECT doc_id, source, " +
      "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE length(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens, " +
      "CAST(concat('0x', substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 6)) " +
      "AS BIGINT) AS h FROM documents), " +
      "c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tk) " +
      "SELECT doc_id, source, n_tokens FROM c WHERE cum <= 1300"),
    "det_split" -> ("SELECT doc_id, CASE " +
      "WHEN h < CAST(floor(0.8 * 16777216) AS BIGINT) THEN 'train' " +
      "WHEN h < CAST(floor(0.9 * 16777216) AS BIGINT) THEN 'val' " +
      "ELSE 'test' END AS split FROM (SELECT doc_id, " +
      "CAST(concat('0x', substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 6)) " +
      "AS BIGINT) AS h FROM documents)"),
    "leakage_split_gate" -> ("SELECT true AS all_assigned, true AS no_leaks, " +
      "true AS fractions_sane"),
    "pipeline_e2e" -> ("SELECT count(*) AS n_docs, true AS counts_monotone, " +
      "true AS train_all_packed, true AS packs_well_formed FROM documents"),
    "mixture_sample" -> ("SELECT * FROM documents WHERE " +
      "CAST(concat('0x', substring(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 6)) " +
      "AS BIGINT) < CAST(floor(16777216 * CASE source " +
      "WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.25 WHEN 'src2' THEN 0.5 " +
      "ELSE 0.75 END) AS BIGINT)"),
    // long-form profile: DuckDB recomputes every stat exactly
    // (quantile_cont matches Spark's interpolated exact percentile)
    "data_profile" -> ("WITH s AS (SELECT " +
      "CAST(count(doc_id) AS DOUBLE) AS doc_id__count, " +
      "CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS doc_id__nulls, " +
      "CAST(count(DISTINCT doc_id) AS DOUBLE) AS doc_id__distinct, " +
      "CAST(min(doc_id) AS DOUBLE) AS doc_id__min, " +
      "CAST(max(doc_id) AS DOUBLE) AS doc_id__max, " +
      "avg(CAST(doc_id AS DOUBLE)) AS doc_id__mean, " +
      "quantile_cont(CAST(doc_id AS DOUBLE), 0.25) AS doc_id__p25, " +
      "quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS doc_id__p50, " +
      "quantile_cont(CAST(doc_id AS DOUBLE), 0.75) AS doc_id__p75, " +
      "CAST(count(text) AS DOUBLE) AS text__count, " +
      "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS text__nulls, " +
      "CAST(count(DISTINCT text) AS DOUBLE) AS text__distinct, " +
      "CAST(min(length(text)) AS DOUBLE) AS text__min_len, " +
      "CAST(max(length(text)) AS DOUBLE) AS text__max_len, " +
      "avg(CAST(length(text) AS DOUBLE)) AS text__mean_len, " +
      "CAST(count(n_chars) AS DOUBLE) AS n_chars__count, " +
      "CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n_chars__nulls, " +
      "CAST(count(DISTINCT n_chars) AS DOUBLE) AS n_chars__distinct, " +
      "CAST(min(n_chars) AS DOUBLE) AS n_chars__min, " +
      "CAST(max(n_chars) AS DOUBLE) AS n_chars__max, " +
      "avg(CAST(n_chars AS DOUBLE)) AS n_chars__mean, " +
      "quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS n_chars__p25, " +
      "quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS n_chars__p50, " +
      "quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS n_chars__p75 " +
      "FROM documents) " +
      "SELECT u.column AS \"column\", u.stat, round(u.value, 6) AS value FROM s, LATERAL (" +
      "SELECT unnest(['doc_id','doc_id','doc_id','doc_id','doc_id','doc_id','doc_id','doc_id','doc_id'," +
      "'text','text','text','text','text','text'," +
      "'n_chars','n_chars','n_chars','n_chars','n_chars','n_chars','n_chars','n_chars','n_chars']) AS \"column\", " +
      "unnest(['count','nulls','distinct','min','max','mean','p25','p50','p75'," +
      "'count','nulls','distinct','min_len','max_len','mean_len'," +
      "'count','nulls','distinct','min','max','mean','p25','p50','p75']) AS stat, " +
      "unnest([doc_id__count, doc_id__nulls, doc_id__distinct, doc_id__min, doc_id__max, " +
      "doc_id__mean, doc_id__p25, doc_id__p50, doc_id__p75, " +
      "text__count, text__nulls, text__distinct, text__min_len, text__max_len, text__mean_len, " +
      "n_chars__count, n_chars__nulls, n_chars__distinct, n_chars__min, n_chars__max, " +
      "n_chars__mean, n_chars__p25, n_chars__p50, n_chars__p75]) AS value) u"),
    // closed-form PCM: mean over j of ((id*13 + j*7) % 256) / 255;
    // frames = n / channels, duration = frames * 1000 / rate
    "media_audio_fp" -> ("WITH p AS (SELECT doc_id, " +
      "(32 + doc_id % 32) * (1 + doc_id % 2) AS n FROM documents), " +
      "w AS (SELECT p.doc_id, i.i, (i.i * p.n)//65 AS b0, " +
      "((i.i + 1) * p.n)//65 AS b1 FROM p CROSS JOIN range(0, 65) i(i)), " +
      "s AS (SELECT w.doc_id, w.i, w.b1 - w.b0 AS len, " +
      "CAST(coalesce(sum((w.doc_id * 13 + j.j * 7) % 256), 0) AS BIGINT) AS sm " +
      "FROM w LEFT JOIN range(0, 126) j(j) ON j.j >= w.b0 AND j.j < w.b1 " +
      "GROUP BY w.doc_id, w.i, w.b0, w.b1), " +
      "bits AS (SELECT a.doc_id, a.i, CASE WHEN b.sm * a.len > a.sm * b.len " +
      "THEN '1' ELSE '0' END AS bit FROM s a JOIN s b " +
      "ON a.doc_id = b.doc_id AND b.i = a.i + 1 WHERE a.i < 64) " +
      "SELECT doc_id, string_agg(bit, '' ORDER BY i) AS afp_bits " +
      "FROM bits GROUP BY doc_id"),
    // every output sample = floor mean of 2 input frames per channel,
    // replayed in exact integer math from the planted PCM formula
    "media_wav_resample" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, 32 + doc_id % 32 AS frames, " +
      "8000 + (doc_id % 4) * 4000 AS rate, " +
      "CAST(pow(2, CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 " +
      "WHEN 2 THEN 24 ELSE 32 END) AS BIGINT) AS fullv FROM documents), " +
      "s AS (SELECT d.doc_id, d.ch, d.frames, d.rate, d.fullv, k.range AS k, " +
      "c.range AS c FROM d, range(0,32) k, range(0,2) c " +
      "WHERE k.range < d.frames // 2 AND c.range < d.ch), " +
      "v AS (SELECT doc_id, ch, frames, rate, fullv, " +
      "((doc_id*13 + ((2*k)*ch + c)*7) % fullv " +
      "+ (doc_id*13 + ((2*k + 1)*ch + c)*7) % fullv) // 2 AS val FROM s) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, " +
      "CAST(rate // 2 AS INT) AS sample_rate, " +
      "CAST((frames // 2) * ch AS BIGINT) AS n_samples, " +
      "round((frames // 2) * 1000.0 / (rate // 2), 6) AS duration_ms, " +
      "round(avg(val / (fullv - 1.0)), 6) AS mean_level " +
      "FROM v GROUP BY doc_id, ch, frames, rate, fullv"),
    // cross-container decimation: AIFF PCM16 rows replay the planted
    // offset modulus; AU/WAV G.711 rows replay the u-law/a-law
    // expansions at BOTH input indexes of each output block, then the
    // same floor mean
    "media_xresample" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, 8000 + (doc_id % 3) * 4000 AS rate, " +
      "doc_id % 3 AS src, 16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, k.range AS k, c.range AS c, " +
      "(2*k.range)*ch + c.range AS i1, (2*k.range + 1)*ch + c.range AS i2 " +
      "FROM d, range(0,16) k, range(0,2) c " +
      "WHERE k.range < frames // 2 AND c.range < ch), " +
      "e1 AS (SELECT s.*, " +
      "255 - ((doc_id*17 + i1*11) % 256) AS ua, " +
      "255 - ((doc_id*17 + i2*11) % 256) AS ub, " +
      "xor((doc_id*17 + i1*11) % 256, 85) AS aa, " +
      "xor((doc_id*17 + i2*11) % 256, 85) AS ab FROM s), " +
      "e2 AS (SELECT e1.*, " +
      "((ua % 16) * 8 + 132) * CAST(pow(2, (ua // 16) % 8) AS BIGINT) - 132 AS um1, " +
      "((ub % 16) * 8 + 132) * CAST(pow(2, (ub // 16) % 8) AS BIGINT) - 132 AS um2, " +
      "CASE WHEN (aa // 16) % 8 = 0 THEN (aa % 16) * 16 + 8 " +
      "ELSE ((aa % 16) * 16 + 264) * CAST(pow(2, (aa // 16) % 8 - 1) AS BIGINT) END AS am1, " +
      "CASE WHEN (ab // 16) % 8 = 0 THEN (ab % 16) * 16 + 8 " +
      "ELSE ((ab % 16) * 16 + 264) * CAST(pow(2, (ab // 16) % 8 - 1) AS BIGINT) END AS am2 " +
      "FROM e1), " +
      "v AS (SELECT doc_id, ch, rate, frames, CASE src " +
      "WHEN 0 THEN (((doc_id*13 + i1*7) % 65536) + ((doc_id*13 + i2*7) % 65536)) // 2 " +
      "WHEN 1 THEN ((32768 + (CASE WHEN ua >= 128 THEN -um1 ELSE um1 END)) " +
      "+ (32768 + (CASE WHEN ub >= 128 THEN -um2 ELSE um2 END))) // 2 " +
      "ELSE ((32768 + (CASE WHEN aa >= 128 THEN am1 ELSE -am1 END)) " +
      "+ (32768 + (CASE WHEN ab >= 128 THEN am2 ELSE -am2 END))) // 2 END AS val FROM e2) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, " +
      "CAST(rate // 2 AS INT) AS sample_rate, " +
      "CAST((frames // 2) * ch AS BIGINT) AS n_samples, " +
      "round((frames // 2) * 1000.0 / (rate // 2), 6) AS duration_ms, " +
      "round(avg(val / 65535.0), 6) AS mean_level " +
      "FROM v GROUP BY doc_id, ch, rate, frames"),
    "media_decode_wav" -> ("WITH p AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS channels, (32 + doc_id % 32) * (1 + doc_id % 2) AS n, " +
      "8000 + (doc_id % 4) * 4000 AS rate FROM documents), " +
      "m AS (SELECT p.doc_id, avg(CAST((p.doc_id * 13 + j.j * 7) % 256 AS DOUBLE)) AS mv " +
      "FROM p JOIN range(0, 128) j(j) ON j.j < p.n GROUP BY p.doc_id) " +
      "SELECT p.doc_id, CAST(channels AS INT) AS channels, " +
      "CAST(rate AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_samples, " +
      "round(CAST(32 + p.doc_id % 32 AS DOUBLE) * 1000 / rate, 6) AS duration_ms, " +
      "round(m.mv / 255, 6) AS mean_level FROM p JOIN m ON p.doc_id = m.doc_id"),
    // MP3 header fields recomputed from the planting formulas (the
    // frame walk's accumulated duration equals frames x per-frame ms
    // well inside round-6)
    "media_audio_meta" -> ("WITH p AS (SELECT doc_id, " +
      "([32,40,48,56,64,80,96,112,128,160,192,224,256,320])" +
      "[CAST(doc_id % 14 AS INT) + 1] AS kbps, " +
      "([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1] AS rate, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels, " +
      "5 + doc_id % 20 AS frames FROM documents) " +
      "SELECT doc_id, 'mp3' AS codec, CAST(channels AS INT) AS channels, " +
      "CAST(rate AS INT) AS sample_rate, CAST(kbps AS INT) AS bitrate_kbps, " +
      "CAST(frames AS BIGINT) AS n_frames, " +
      "round(frames * 1152 * 1000.0 / rate, 6) AS duration_ms FROM p"),
    // AIFF: offset-binary mean replayed (signed + half == the planted
    // modulus directly)
    "media_aiff_decode" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, " +
      "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025 " +
      "WHEN 2 THEN 22050 ELSE 44100 END AS rate, " +
      "CAST(pow(2, CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 16 " +
      "WHEN 2 THEN 24 ELSE 32 END) AS BIGINT) AS fullv, " +
      "16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, j.range AS j FROM d, range(0,64) j " +
      "WHERE j.range < frames * ch) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(frames * ch AS BIGINT) AS n_samples, " +
      "round(frames * 1000.0 / rate, 6) AS duration_ms, " +
      "round(avg(((doc_id*13 + j*7) % fullv) / (fullv - 1.0)), 6) AS mean_level " +
      "FROM s GROUP BY doc_id, ch, rate, fullv, frames"),
    // AU: PCM widths replay like AIFF; the u-law rows replay the
    // G.711 segment expansion ARITHMETIC (u = 255 - b; magnitude =
    // ((u%16)*8 + 132) * 2^((u//16)%8) - 132; sign from bit 7)
    "media_au_decode" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, 8000 + (doc_id % 3) * 4000 AS rate, " +
      "doc_id % 5 AS enc, " +
      "CAST(pow(2, CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 16 " +
      "WHEN 2 THEN 24 WHEN 3 THEN 32 ELSE 16 END) AS BIGINT) AS fullv, " +
      "16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, j.range AS j, " +
      "255 - ((d.doc_id*17 + j.range*11) % 256) AS u FROM d, range(0,64) j " +
      "WHERE j.range < frames * ch), " +
      "m AS (SELECT s.*, ((u % 16) * 8 + 132) * " +
      "CAST(pow(2, (u // 16) % 8) AS BIGINT) - 132 AS mag FROM s), " +
      "v AS (SELECT doc_id, ch, rate, fullv, frames, " +
      "CASE WHEN enc < 4 THEN ((doc_id*13 + j*7) % fullv) " +
      "ELSE (CASE WHEN u >= 128 THEN -mag ELSE mag END) + 32768 " +
      "END AS uval FROM m) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(frames * ch AS BIGINT) AS n_samples, " +
      "round(frames * 1000.0 / rate, 6) AS duration_ms, " +
      "round(avg(uval / (fullv - 1.0)), 6) AS mean_level " +
      "FROM v GROUP BY doc_id, ch, rate, fullv, frames"),
    // G.711 WAV: DuckDB replays BOTH published expansions — u-law on
    // the inverted byte, a-law on the 0x55-xored byte (sign bit SET
    // means positive)
    "media_wav_g711" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, 8000 + (doc_id % 3) * 4000 AS rate, " +
      "16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, j.range AS j, " +
      "(d.doc_id*17 + j.range*11) % 256 AS b FROM d, range(0,64) j " +
      "WHERE j.range < frames * ch), " +
      "m AS (SELECT s.*, 255 - b AS u, xor(b, 85) AS a FROM s), " +
      "e AS (SELECT m.*, ((u % 16) * 8 + 132) * " +
      "CAST(pow(2, (u // 16) % 8) AS BIGINT) - 132 AS umag, " +
      "CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8 " +
      "ELSE ((a % 16) * 16 + 264) * CAST(pow(2, (a // 16) % 8 - 1) AS BIGINT) " +
      "END AS amag FROM m), " +
      "v AS (SELECT doc_id, ch, rate, frames, 32768 + " +
      "CASE WHEN doc_id % 2 = 0 " +
      "THEN (CASE WHEN u >= 128 THEN -umag ELSE umag END) " +
      "ELSE (CASE WHEN a >= 128 THEN amag ELSE -amag END) END AS uval FROM e) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(frames * ch AS BIGINT) AS n_samples, " +
      "round(frames * 1000.0 / rate, 6) AS duration_ms, " +
      "round(avg(uval / 65535.0), 6) AS mean_level " +
      "FROM v GROUP BY doc_id, ch, rate, frames"),
    // IEEE-float WAV: dyadic k/256 - 0.5 samples are exact in f32,
    // f64, and DuckDB doubles, so the mean replays value-exact
    "media_wav_float" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, 8000 + (doc_id % 3) * 4000 AS rate, " +
      "16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, j.range AS j FROM d, range(0,64) j " +
      "WHERE j.range < frames * ch) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(frames * ch AS BIGINT) AS n_samples, " +
      "round(frames * 1000.0 / rate, 6) AS duration_ms, " +
      "round(avg((((doc_id*13 + j*7) % 256) / 256.0 + 0.5) / 2), 6) AS mean_level " +
      "FROM s GROUP BY doc_id, ch, rate, frames"),
    // AIFF-C variants: sowt replays offset-binary LE16, ulaw/alaw the
    // G.711 expansions, fl32 the dyadic float values
    "media_aifc_decode" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 2 AS ch, " +
      "CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025 " +
      "WHEN 2 THEN 22050 ELSE 44100 END AS rate, " +
      "doc_id % 4 AS codec, 16 + doc_id % 16 AS frames FROM documents), " +
      "s AS (SELECT d.*, j.range AS j, " +
      "(d.doc_id*17 + j.range*11) % 256 AS b FROM d, range(0,64) j " +
      "WHERE j.range < frames * ch), " +
      "m AS (SELECT s.*, 255 - b AS u, xor(b, 85) AS a FROM s), " +
      "e AS (SELECT m.*, ((u % 16) * 8 + 132) * " +
      "CAST(pow(2, (u // 16) % 8) AS BIGINT) - 132 AS umag, " +
      "CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8 " +
      "ELSE ((a % 16) * 16 + 264) * CAST(pow(2, (a // 16) % 8 - 1) AS BIGINT) " +
      "END AS amag FROM m), " +
      "v AS (SELECT doc_id, ch, rate, codec, frames, CASE codec " +
      "WHEN 0 THEN ((doc_id*13 + j*7) % 65536) / 65535.0 " +
      "WHEN 1 THEN (32768 + (CASE WHEN u >= 128 THEN -umag ELSE umag END)) / 65535.0 " +
      "WHEN 2 THEN (32768 + (CASE WHEN a >= 128 THEN amag ELSE -amag END)) / 65535.0 " +
      "ELSE (((doc_id*13 + j*7) % 256) / 256.0 + 0.5) / 2 END AS lvl FROM e) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(frames * ch AS BIGINT) AS n_samples, " +
      "round(frames * 1000.0 / rate, 6) AS duration_ms, " +
      "round(avg(lvl), 6) AS mean_level " +
      "FROM v GROUP BY doc_id, ch, rate, codec, frames"),
    // AAC-LC zero-codebook silence: layout math replayed (the samples
    // are exactly zero by syntax, so mean_level is 0 and the layout is
    // the whole observable output)
    "media_aac_decode" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ch, " +
      "2 + doc_id % 4 AS frames, " +
      "CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END AS rate " +
      "FROM documents) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(1024*ch*frames AS BIGINT) AS n_samples, " +
      "round(frames * 1024000.0 / rate, 6) AS duration_ms, " +
      "0.0 AS mean_level FROM d"),
    // same closed form as the ADTS oracle: MP4 framing must be
    // transparent to the decoded layout
    "media_mp4_aac_decode" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ch, " +
      "2 + doc_id % 4 AS frames, " +
      "CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END AS rate " +
      "FROM documents) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, CAST(rate AS INT) AS sample_rate, " +
      "CAST(1024*ch*frames AS BIGINT) AS n_samples, " +
      "round(frames * 1024000.0 / rate, 6) AS duration_ms, " +
      "0.0 AS mean_level FROM d"),
    // Layer I requantization replayed value-for-value from the
    // planting formulas: s' = (2c+1-2^nb)/2^nb * 2^nb/(2^nb-1) * sf,
    // sf = 2*2^(-idx/3); mean_level = sum|s'| / (384*ch*frames) / 2
    "media_mp3_decode" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ch, " +
      "2 + doc_id % 4 AS frames FROM documents), " +
      "u AS (SELECT d.doc_id, d.ch, d.frames, f.range AS f, g.range AS g, " +
      "sb.range AS sb, c.range AS c " +
      "FROM d, range(0,6) f, range(0,12) g, range(0,32) sb, range(0,2) c " +
      "WHERE f.range < d.frames AND c.range < d.ch), " +
      "v AS (SELECT doc_id, ch, frames, " +
      "2 + ((doc_id + sb*5 + c*3) % 6) AS nb, " +
      "2.0 * pow(2.0, -CAST((doc_id*7 + sb*5 + c*11) % 63 AS DOUBLE)/3.0) AS sf, " +
      "(doc_id*31 + f*29 + g*17 + sb*13 + c*19) AS rawcode FROM u), " +
      "w AS (SELECT doc_id, ch, frames, sf, CAST(pow(2.0, nb) AS DOUBLE) AS p2, " +
      "rawcode % CAST(pow(2.0, nb) AS BIGINT) AS code FROM v) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, 32000 AS sample_rate, " +
      "CAST(384*ch*frames AS BIGINT) AS n_samples, " +
      "round(frames * 12.0, 6) AS duration_ms, " +
      "round(sum(abs((2*code + 1 - p2)/p2 * (p2/(p2-1.0)) * sf)) " +
      "/ (384*ch*frames) / 2.0, 6) AS mean_level " +
      "FROM w GROUP BY doc_id, ch, frames"),
    // Layer II requantization replayed value-for-value from the
    // planting formulas: per (frame, granule, subband, channel,
    // sample k) the allocation ladder gives steps, scfsi picks which
    // transmitted scalefactor each 4-granule part uses, grouped
    // 3/5-step codes decode as base-steps digits, and
    // s = (2c+1-steps)/steps * sf with sf = 2*2^(-idx/3)
    "media_mp3_decode_l2" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ch, " +
      "2 + doc_id % 3 AS frames FROM documents), " +
      "u AS (SELECT d.doc_id, d.ch, d.frames, f.range AS f, g.range AS g, " +
      "sb.range AS sb, c.range AS c, k.range AS k " +
      "FROM d, range(0,4) f, range(0,12) g, range(0,27) sb, range(0,2) c, " +
      "range(0,3) k WHERE f.range < d.frames AND c.range < d.ch), " +
      "v AS (SELECT doc_id, ch, frames, f, g, sb, c, k, " +
      "1 + ((doc_id + sb*5 + c*3) % (CASE WHEN sb >= 23 THEN 2 ELSE 3 END)) AS ai, " +
      "(doc_id + sb + c) % 4 AS scfsi, g // 4 AS p, " +
      "doc_id*31 + f*29 + g*17 + sb*13 + c*19 AS raw FROM u), " +
      "w AS (SELECT *, CASE WHEN sb < 3 THEN ([3,7,15])[CAST(ai AS INT)] " +
      "WHEN sb < 23 THEN ([3,5,7])[CAST(ai AS INT)] " +
      "ELSE ([3,5])[CAST(ai AS INT)] END AS steps, " +
      "CASE WHEN scfsi = 0 THEN p WHEN scfsi = 1 THEN (CASE WHEN p = 2 THEN 1 ELSE 0 END) " +
      "WHEN scfsi = 2 THEN 0 ELSE (CASE WHEN p = 0 THEN 0 ELSE 1 END) END AS tr FROM v), " +
      "x AS (SELECT doc_id, ch, frames, steps, " +
      "2.0 * pow(2.0, -CAST((doc_id*7 + sb*5 + c*11 + tr*3) % 63 AS DOUBLE)/3.0) AS sf, " +
      "CASE WHEN steps IN (3, 5) THEN " +
      "((raw % (steps*steps*steps)) // (CASE WHEN k = 0 THEN 1 " +
      "WHEN k = 1 THEN steps ELSE steps*steps END)) % steps " +
      "ELSE (raw + k*23) % steps END AS code FROM w) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, 48000 AS sample_rate, " +
      "CAST(1152*ch*frames AS BIGINT) AS n_samples, " +
      "round(frames * 24.0, 6) AS duration_ms, " +
      "round(sum(abs((2*code + 1 - steps)/CAST(steps AS DOUBLE) * sf)) " +
      "/ (1152*ch*frames) / 2.0, 6) AS mean_level " +
      "FROM x GROUP BY doc_id, ch, frames"),
    // Layer III requantization replayed value-for-value from the
    // planting formulas: 18 Huffman-table-1 big-value pairs (lines
    // 2p, 2p+1 with bit-planted magnitudes 0/1), (id+f+gr+ch)%3
    // count1 table-B quadruples (lines 36+4q+j, value bit (3-j) of
    // the quad word), scalefactor band from the 48 kHz long-block
    // boundary table, and |xr| = m * 2^((gg-210)/4 - mult*sf)
    "media_mp3_decode_l3" -> ("WITH d AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ch, " +
      "2 + doc_id % 3 AS frames FROM documents), " +
      "bv AS (SELECT d.doc_id, d.ch, d.frames, f.range AS f, g.range AS g, " +
      "c.range AS c, p.range AS p, k.range AS k " +
      "FROM d, range(0,4) f, range(0,2) g, range(0,2) c, range(0,18) p, " +
      "range(0,2) k WHERE f.range < d.frames AND c.range < d.ch), " +
      "bvv AS (SELECT doc_id, ch, frames, f, g, c, 2*p + k AS line, " +
      "CASE WHEN k = 0 THEN (doc_id*31 + f*29 + g*17 + p*13 + c*19) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13 + c*19) // 2) % 2 END AS m " +
      "FROM bv), " +
      "cq AS (SELECT d.doc_id, d.ch, d.frames, f.range AS f, g.range AS g, " +
      "c.range AS c, qq.range AS q, j.range AS j " +
      "FROM d, range(0,4) f, range(0,2) g, range(0,2) c, range(0,2) qq, " +
      "range(0,4) j WHERE f.range < d.frames AND c.range < d.ch " +
      "AND qq.range < (d.doc_id + f.range + g.range + c.range) % 3), " +
      "cqv AS (SELECT doc_id, ch, frames, f, g, c, 36 + 4*q + j AS line, " +
      "((doc_id*37 + f*41 + g*43 + q*53 + c*47) // " +
      "(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 AS m " +
      "FROM cq), " +
      "allv AS (SELECT * FROM bvv UNION ALL SELECT * FROM cqv), " +
      "lvl AS (SELECT doc_id, ch, frames, m * pow(2.0, " +
      "(140 + ((doc_id*7 + f*3 + g*13 + c*29) % 64) - 210) / 4.0 " +
      "- (((doc_id + g + c) % 2) + 1) * 0.5 * " +
      "((doc_id*3 + g*5 + c*7 + (CASE WHEN line < 4 THEN 0 " +
      "WHEN line < 8 THEN 1 WHEN line < 12 THEN 2 WHEN line < 16 THEN 3 " +
      "WHEN line < 20 THEN 4 WHEN line < 24 THEN 5 WHEN line < 30 THEN 6 " +
      "WHEN line < 36 THEN 7 WHEN line < 42 THEN 8 ELSE 9 END) * 11) % 4)" +
      ") AS v FROM allv) " +
      "SELECT doc_id, CAST(ch AS INT) AS channels, 48000 AS sample_rate, " +
      "CAST(1152*ch*frames AS BIGINT) AS n_samples, " +
      "round(frames * 24.0, 6) AS duration_ms, " +
      "round(sum(v) / (1152*ch*frames) / 2.0, 6) AS mean_level " +
      "FROM lvl GROUP BY doc_id, ch, frames"),
    // Layer III intensity-stereo replay: lines 0-11 (bands 0-2, below
    // the planted rzero = 12) MS-decode from both channels' signed
    // requantized values; lines 12-35 (bands 3-7) are the intensity
    // region — |xr_left| scaled by sqrt(2) when the right channel's
    // scalefactor (is_pos) is 7 (per-band MS fallback) and by 1
    // otherwise (the tan-ratio split preserves |l|+|r|); the 48 kHz
    // long-band map gives the band of each line
    "media_mp3_decode_l3i" -> ("WITH d AS (SELECT doc_id, " +
      "2 + doc_id % 3 AS frames FROM documents), " +
      "u AS (SELECT d.doc_id, d.frames, f.range AS f, g.range AS g, " +
      "l.range AS l FROM d, range(0,4) f, range(0,2) g, range(0,36) l " +
      "WHERE f.range < d.frames), " +
      "b AS (SELECT *, CASE WHEN l < 12 THEN l // 4 " +
      "WHEN l < 16 THEN 3 WHEN l < 20 THEN 4 WHEN l < 24 THEN 5 " +
      "WHEN l < 30 THEN 6 ELSE 7 END AS band, l // 2 AS p, " +
      "l % 2 = 0 AS ev FROM u), " +
      "raw AS (SELECT *, doc_id*31 + f*29 + g*17 + p*13 AS rwL, " +
      "doc_id*31 + f*29 + g*17 + p*13 + 19 AS rwR, " +
      "(140 + ((doc_id*7 + f*3 + g*13) % 64) - 210) / 4.0 AS gainL, " +
      "(140 + ((doc_id*7 + f*3 + g*13 + 29) % 64) - 210) / 4.0 AS gainR, " +
      "(((doc_id + g) % 2) + 1) * 0.5 AS multL, " +
      "(((doc_id + g + 1) % 2) + 1) * 0.5 AS multR, " +
      "(doc_id*3 + g*5 + band*11) % 8 AS sfvL, " +
      "(doc_id + g*7 + band*3) % 8 AS sfvR FROM b), " +
      "v AS (SELECT *, " +
      "(CASE WHEN ev THEN rwL % 2 ELSE (rwL // 2) % 2 END) * " +
      "(1 - 2*(CASE WHEN ev THEN (rwL // 4) % 2 ELSE (rwL // 8) % 2 END)) * " +
      "pow(2.0, gainL - multL * sfvL) AS xl, " +
      "(1 - 2*(CASE WHEN ev THEN (rwR // 4) % 2 ELSE (rwR // 8) % 2 END)) * " +
      "pow(2.0, gainR - multR * sfvR) AS xr FROM raw), " +
      "c AS (SELECT doc_id, frames, " +
      "CASE WHEN l < 12 THEN (abs(xl + xr) + abs(xl - xr)) / sqrt(2.0) " +
      "ELSE abs(xl) * (CASE WHEN sfvR = 7 THEN sqrt(2.0) ELSE 1.0 END) " +
      "END AS contrib FROM v) " +
      "SELECT doc_id, 2 AS channels, 48000 AS sample_rate, " +
      "CAST(1152*2*frames AS BIGINT) AS n_samples, " +
      "round(frames * 24.0, 6) AS duration_ms, " +
      "round(sum(contrib) / (1152*2*frames) / 2.0, 6) AS mean_level " +
      "FROM c GROUP BY doc_id, frames"),
    // Layer III short-block + MS-stereo replay: per spectral line the
    // SIGNED per-channel values are rebuilt from the planting
    // formulas (win = (line%12)//4, sfb = line//12 in the 48 kHz
    // short layout, subblock gain 2^(-2*sbg), no pretab) and the MS
    // reconstruction sums (|m+s| + |m-s|)/sqrt2
    "media_mp3_decode_l3s" -> ("WITH d AS (SELECT doc_id, " +
      "2 + doc_id % 2 AS frames FROM documents), " +
      "bv AS (SELECT d.doc_id, d.frames, f.range AS f, g.range AS g, " +
      "p.range AS p, k.range AS k " +
      "FROM d, range(0,3) f, range(0,2) g, range(0,18) p, range(0,2) k " +
      "WHERE f.range < d.frames), " +
      "bvv AS (SELECT doc_id, frames, f, g, 2*p + k AS line, " +
      "CASE WHEN k = 0 THEN (doc_id*31 + f*29 + g*17 + p*13) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13) // 2) % 2 END AS m0, " +
      "CASE WHEN k = 0 THEN (doc_id*31 + f*29 + g*17 + p*13 + 19) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13 + 19) // 2) % 2 END AS m1, " +
      "CASE WHEN k = 0 THEN ((doc_id*31 + f*29 + g*17 + p*13) // 4) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13) // 8) % 2 END AS sg0, " +
      "CASE WHEN k = 0 THEN ((doc_id*31 + f*29 + g*17 + p*13 + 19) // 4) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13 + 19) // 8) % 2 END AS sg1 " +
      "FROM bv), " +
      "cq AS (SELECT d.doc_id, d.frames, f.range AS f, g.range AS g, " +
      "qq.range AS q, j.range AS j " +
      "FROM d, range(0,3) f, range(0,2) g, range(0,2) qq, range(0,4) j " +
      "WHERE f.range < d.frames AND qq.range < greatest(" +
      "(d.doc_id + f.range + g.range) % 3, " +
      "(d.doc_id + f.range + g.range + 1) % 3)), " +
      "cqv AS (SELECT doc_id, frames, f, g, 36 + 4*q + j AS line, " +
      "CASE WHEN q < (doc_id + f + g) % 3 THEN ((doc_id*37 + f*41 + g*43 + q*53) // " +
      "(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 " +
      "ELSE 0 END AS m0, " +
      "CASE WHEN q < (doc_id + f + g + 1) % 3 THEN " +
      "((doc_id*37 + f*41 + g*43 + q*53 + 47) // " +
      "(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 " +
      "ELSE 0 END AS m1, " +
      "CASE WHEN q < (doc_id + f + g) % 3 THEN ((doc_id*37 + f*41 + g*43 + q*53) // " +
      "(CASE j WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 32 ELSE 16 END)) % 2 " +
      "ELSE 0 END AS sg0, " +
      "CASE WHEN q < (doc_id + f + g + 1) % 3 THEN " +
      "((doc_id*37 + f*41 + g*43 + q*53 + 47) // " +
      "(CASE j WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 32 ELSE 16 END)) % 2 " +
      "ELSE 0 END AS sg1 " +
      "FROM cq), " +
      "allv AS (SELECT * FROM bvv UNION ALL SELECT * FROM cqv), " +
      "lvl AS (SELECT doc_id, frames, " +
      "(1 - 2*sg0) * m0 * pow(2.0, " +
      "(140 + ((doc_id*7 + f*3 + g*13) % 64) - 210) / 4.0 " +
      "- 2.0 * ((doc_id + g*2 + ((line % 12) // 4) * 5) % 3) " +
      "- (((doc_id + g) % 2) + 1) * 0.5 * " +
      "((doc_id*3 + g*5 + ((line % 12) // 4) * 11 + (line // 12) * 13) % 4)) AS v0, " +
      "(1 - 2*sg1) * m1 * pow(2.0, " +
      "(140 + ((doc_id*7 + f*3 + g*13 + 29) % 64) - 210) / 4.0 " +
      "- 2.0 * ((doc_id + g*2 + 3 + ((line % 12) // 4) * 5) % 3) " +
      "- (((doc_id + g + 1) % 2) + 1) * 0.5 * " +
      "((doc_id*3 + g*5 + 7 + ((line % 12) // 4) * 11 + (line // 12) * 13) % 4)) AS v1 " +
      "FROM allv) " +
      "SELECT doc_id, CAST(2 AS INT) AS channels, 48000 AS sample_rate, " +
      "CAST(1152*2*frames AS BIGINT) AS n_samples, " +
      "round(frames * 24.0, 6) AS duration_ms, " +
      "round(sum((abs(v0 + v1) + abs(v0 - v1)) / sqrt(2.0)) " +
      "/ (1152*2*frames) / 2.0, 6) AS mean_level " +
      "FROM lvl GROUP BY doc_id, frames"),
    // Layer III mixed-block replay: lines 0..35 requantize through
    // the LONG band map (48 kHz boundaries: <24 -> line//4, <30 -> 6,
    // else 7), quad lines 36+4q+j through the SHORT path (window = q,
    // sfb 3, subblock gain applies); magnitudes summed (mono)
    "media_mp3_decode_l3m" -> ("WITH d AS (SELECT doc_id, " +
      "2 + doc_id % 2 AS frames FROM documents), " +
      "bv AS (SELECT d.doc_id, d.frames, f.range AS f, g.range AS g, " +
      "p.range AS p, k.range AS k " +
      "FROM d, range(0,3) f, range(0,2) g, range(0,18) p, range(0,2) k " +
      "WHERE f.range < d.frames), " +
      "bvv AS (SELECT doc_id, frames, f, g, 2*p + k AS line, " +
      "CASE WHEN k = 0 THEN (doc_id*31 + f*29 + g*17 + p*13) % 2 " +
      "ELSE ((doc_id*31 + f*29 + g*17 + p*13) // 2) % 2 END AS m FROM bv), " +
      "bvl AS (SELECT doc_id, frames, m * pow(2.0, " +
      "(140 + ((doc_id*7 + f*3 + g*13) % 64) - 210) / 4.0 " +
      "- (((doc_id + g) % 2) + 1) * 0.5 * ((doc_id*3 + g*5 + " +
      "(CASE WHEN line < 24 THEN line // 4 WHEN line < 30 THEN 6 ELSE 7 END) " +
      "* 7) % 4)) AS v FROM bvv), " +
      "cq AS (SELECT d.doc_id, d.frames, f.range AS f, g.range AS g, " +
      "qq.range AS q, j.range AS j " +
      "FROM d, range(0,3) f, range(0,2) g, range(0,2) qq, range(0,4) j " +
      "WHERE f.range < d.frames AND qq.range < (d.doc_id + f.range + g.range) % 3), " +
      "cqv AS (SELECT doc_id, frames, g, q, " +
      "((doc_id*37 + f*41 + g*43 + q*53) // " +
      "(CASE j WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 AS m, " +
      "f FROM cq), " +
      "cql AS (SELECT doc_id, frames, m * pow(2.0, " +
      "(140 + ((doc_id*7 + f*3 + g*13) % 64) - 210) / 4.0 " +
      "- 2.0 * ((doc_id + g*2 + q*5) % 3) " +
      "- (((doc_id + g) % 2) + 1) * 0.5 * " +
      "((doc_id*3 + g*5 + q*11 + 39) % 4)) AS v FROM cqv), " +
      "allv AS (SELECT doc_id, frames, v FROM bvl " +
      "UNION ALL SELECT doc_id, frames, v FROM cql) " +
      "SELECT doc_id, CAST(1 AS INT) AS channels, 48000 AS sample_rate, " +
      "CAST(1152*frames AS BIGINT) AS n_samples, " +
      "round(frames * 24.0, 6) AS duration_ms, " +
      "round(sum(v) / (1152*frames) / 2.0, 6) AS mean_level " +
      "FROM allv GROUP BY doc_id, frames"),
    // H.264 SPS dims and the I_PCM luma mean recomputed from the
    // planting formulas (256 raw luma samples per macroblock)
    "media_h264_decode" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 3 AS wmbs, 1 + doc_id % 2 AS hmbs, " +
      "1 + doc_id % 2 AS frames FROM documents), " +
      "s AS (SELECT d.doc_id, d.wmbs, d.hmbs, d.frames, " +
      "f.range AS f, m.range AS m, k.range AS k " +
      "FROM d, range(0,2) f, range(0,6) m, range(0,256) k " +
      "WHERE f.range < d.frames AND m.range < d.wmbs * d.hmbs) " +
      "SELECT doc_id, CAST(wmbs*16 AS INT) AS width, " +
      "CAST(hmbs*16 AS INT) AS height, CAST(frames AS BIGINT) AS n_frames, " +
      "CAST(frames*wmbs*hmbs AS BIGINT) AS n_mbs, " +
      "round(avg(16 + (doc_id*7 + f*11 + m*13 + k*17) % 220), 6) AS mean_luma, " +
      "CAST(66 AS INT) AS profile_idc, CAST(30 AS INT) AS level_idc " +
      "FROM s GROUP BY doc_id, wmbs, hmbs, frames"),
    // identical closed form to the elementary-stream oracle: the MP4
    // framing must be TRANSPARENT to the decoded samples
    "media_mp4_h264_decode" -> ("WITH d AS (SELECT doc_id, " +
      "1 + doc_id % 3 AS wmbs, 1 + doc_id % 2 AS hmbs, " +
      "1 + doc_id % 2 AS frames FROM documents), " +
      "s AS (SELECT d.doc_id, d.wmbs, d.hmbs, d.frames, " +
      "f.range AS f, m.range AS m, k.range AS k " +
      "FROM d, range(0,2) f, range(0,6) m, range(0,256) k " +
      "WHERE f.range < d.frames AND m.range < d.wmbs * d.hmbs) " +
      "SELECT doc_id, CAST(wmbs*16 AS INT) AS width, " +
      "CAST(hmbs*16 AS INT) AS height, CAST(frames AS BIGINT) AS n_frames, " +
      "CAST(frames*wmbs*hmbs AS BIGINT) AS n_mbs, " +
      "round(avg(16 + (doc_id*7 + f*11 + m*13 + k*17) % 220), 6) AS mean_luma, " +
      "CAST(66 AS INT) AS profile_idc, CAST(30 AS INT) AS level_idc " +
      "FROM s GROUP BY doc_id, wmbs, hmbs, frames"),
    // mvhd/tkhd fields recomputed from the planting formulas
    "media_mp4_meta" -> ("SELECT doc_id, " +
      "CAST(640 + (doc_id % 8) * 16 AS INT) AS width, " +
      "CAST(360 + (doc_id % 4) * 16 AS INT) AS height, " +
      "round((5000 + (doc_id % 50) * 10) * 1000.0 / " +
      "(1000 + (doc_id % 10) * 100), 6) AS duration_ms, " +
      "CAST(1000 + (doc_id % 10) * 100 AS BIGINT) AS timescale, " +
      "CAST(1 + doc_id % 2 AS INT) AS n_tracks FROM documents"),
    // avih fields recomputed from the planting formulas
    "media_video_meta" -> ("SELECT doc_id, " +
      "CAST(320 + (doc_id % 8) * 16 AS INT) AS width, " +
      "CAST(240 + (doc_id % 4) * 16 AS INT) AS height, " +
      "CAST(100 + doc_id % 100 AS BIGINT) AS total_frames, " +
      "round(1e6 / (20000 + (doc_id % 10) * 1000), 6) AS fps FROM documents"),
    // identical closed form: the GIF planting uses the same gradient,
    // palette-indexed so the encode is lossless
    "media_decode_gif" -> ("WITH p AS (SELECT doc_id, 8 + doc_id % 16 AS w, " +
      "4 + doc_id % 8 AS h, doc_id % 160 AS r0, (3 * doc_id) % 160 AS g0, " +
      "(7 * doc_id) % 160 AS b0 FROM documents) " +
      "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
      "CAST(3 AS INT) AS channels, " +
      "round(CAST(h * (w * (r0 + g0 + b0) + 3 * (w * (w - 1) // 2)) AS DOUBLE) " +
      "/ (w * h * 3), 6) AS mean_intensity FROM p"),
    // per-bucket integer byte sums divided once — exact in any
    // accumulation order on both engines
    "media_features" -> ("SELECT doc_id, CAST((p-1) % 16 AS INT) AS feature_idx, " +
      "round(CAST(sum(ord(text[p])) AS DOUBLE) / 255.0, 6) AS value " +
      "FROM (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS p FROM documents) " +
      "GROUP BY doc_id, (p-1) % 16"),
    // exact word-3-gram Jaccard on the planted (doc, doc+DupOff) pairs
    "jaccard_pairs" -> ("WITH d2 AS (SELECT doc_id, text FROM documents " +
      s"UNION ALL SELECT doc_id + $DupOff, text || ' xyzzy plugh' FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] " +
      "ELSE list_distinct(list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS gr " +
      "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM d2)) " +
      "SELECT x.doc_id AS a, y.doc_id AS b, " +
      "round(CAST(len(list_intersect(x.gr, y.gr)) AS DOUBLE) " +
      "/ len(list_distinct(x.gr || y.gr)), 6) AS jaccard " +
      s"FROM g x JOIN g y ON y.doc_id = x.doc_id + $DupOff AND x.doc_id < $DupOff"),
    // exact brute-force top-k is SQL-expressible: same cosine formula
    // (dot / (sqrt(dot)*sqrt(dot))) over DOUBLE[] on both engines
    // the projection matrix rebuilt from the same md5 keys, every
    // coordinate an order-insensitive round-6 dot product
    "random_projection" -> ("WITH s AS (SELECT i.range AS i, j.range AS j, " +
      "CASE (CAST(concat('0x', substring(md5(concat('graft:', i.range, '_', " +
      "j.range)), 1, 6)) AS BIGINT) % 6) " +
      "WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn " +
      "FROM range(0,16) i, range(0,64) j), " +
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
      "SELECT e.vec_id, CAST(s.i AS INT) AS proj_idx, " +
      "round(sum(v[s.j + 1] * s.sgn), 6) AS value " +
      "FROM e, s GROUP BY e.vec_id, s.i"),
    "knn_filtered" -> ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
      "FROM embeddings WHERE label = 1), " +
      "q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
      "WHERE vec_id < 8), " +
      "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * " +
      "sqrt(list_dot_product(c.v, c.v))) AS cosine FROM c, q) " +
      "SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, " +
      "CAST(row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored QUALIFY rank <= 10"),
    "knn_filtered_gate" -> ("SELECT CAST(0 AS BIGINT) AS mismatches, " +
      "CAST(0 AS BIGINT) AS ineligible_rows"),
    "knn_brute" -> ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
      "WHERE vec_id < 8), " +
      "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * " +
      "sqrt(list_dot_product(c.v, c.v))) AS cosine FROM c, q) " +
      "SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, " +
      "CAST(row_number() OVER (PARTITION BY query_id " +
      "ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank " +
      "FROM scored QUALIFY rank <= 10"),
    // near-dup pairs >= 0.999: planted exact copies always share LSH
    // buckets, so the LSH path is exhaustive at this threshold
    "embedding_neardups" -> ("WITH av AS (SELECT vec_id, " +
      "CAST(embedding AS DOUBLE[]) AS v FROM embeddings " +
      s"UNION ALL SELECT vec_id + $DupOff, CAST(embedding AS DOUBLE[]) FROM embeddings), " +
      "p AS (SELECT x.vec_id AS a, y.vec_id AS b, " +
      "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * " +
      "sqrt(list_dot_product(y.v, y.v))) AS cosine " +
      "FROM av x JOIN av y ON x.vec_id < y.vec_id) " +
      "SELECT a, b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.999"),

    "knn_ivf_recall" -> "SELECT true AS recall_ok",
    "knn_ivf2l_gate" ->
      "SELECT CAST(0 AS BIGINT) AS mismatches, true AS twolevel",
    "pq_roundtrip_gate" -> ("SELECT count(*) AS n_vecs, " +
      "true AS reconstruction_ok FROM embeddings"),
    "pq_recall" -> "SELECT true AS recall_ok",
    "pq_index_gate" -> "SELECT CAST(0 AS BIGINT) AS mismatches",
    "ivfpq_gate" -> "SELECT CAST(0 AS BIGINT) AS mismatches",
    "knn_ivf_indexed" -> "SELECT CAST(0 AS BIGINT) AS mismatches",
    "knn_ivf_rerank" -> "SELECT CAST(0 AS BIGINT) AS mismatches",
    "knn_ivf_append" -> ("SELECT count(*) AS n_indexed, true AS appended_found " +
      "FROM embeddings"),
    "embedding_quantize_gate" -> ("SELECT count(*) AS n_vecs, " +
      "true AS cosine_preserved FROM embeddings"),
    "semantic_dedup_gate" -> ("SELECT count(*) AS n_vecs, " +
      "CAST(0 AS BIGINT) AS planted_missed, " +
      "CAST(0 AS BIGINT) AS below_threshold, " +
      "true AS one_survivor_per_pair, " +
      "CAST(0 AS BIGINT) AS planted_survivors FROM embeddings"),
    "hier_assign_gate" -> ("SELECT count(*) AS n_vecs, " +
      "CAST(0 AS BIGINT) AS contained_violations, " +
      "true AS agree_ok FROM embeddings"),
    "semantic_hier_gate" -> ("SELECT count(*) AS n_vecs, " +
      "CAST(0 AS BIGINT) AS planted_missed, " +
      "CAST(0 AS BIGINT) AS below_threshold, " +
      "true AS agree_ok FROM embeddings"),
    "decontam_gate" -> ("SELECT count(*) AS n_ref, " +
      "CAST(0 AS BIGINT) AS planted_missed, " +
      "true AS planted_exact, true AS contaminated_found " +
      "FROM documents WHERE doc_id % 25 = 0"),
    "embedding_decontam" -> ("WITH c AS (SELECT vec_id, " +
      "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "r AS (SELECT vec_id + 1000000 AS ref_id, CAST(embedding AS DOUBLE[]) AS v " +
      "FROM embeddings WHERE vec_id % 50 = 0), " +
      "p AS (SELECT c.vec_id AS corpus_id, r.ref_id, " +
      "list_dot_product(c.v, r.v) / (sqrt(list_dot_product(c.v, c.v)) * " +
      "sqrt(list_dot_product(r.v, r.v))) AS cosine FROM c JOIN r ON true) " +
      "SELECT corpus_id, ref_id, round(cosine, 6) AS cosine " +
      "FROM p WHERE cosine >= 0.99"),
    "embedding_classify_gate" -> ("SELECT " +
      "count(*) FILTER (WHERE vec_id % 5 <> 0) AS n_train, " +
      "count(*) FILTER (WHERE vec_id % 5 = 0) AS n_test, " +
      "true AS train_acc_ok, true AS test_acc_ok FROM embeddings"),
    "sketch_profile_gate" -> ("SELECT count(l_quantity) AS n_rows, " +
      "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
      "CAST(sum(CAST(l_quantity AS DECIMAL(32,6))) AS DOUBLE) AS sum_qty, " +
      "true AS incremental_ok, true AS ndv_ok FROM lineitem"),
    "hist_quantile_gate" -> ("SELECT count(l_quantity) AS n_rows, " +
      "true AS incremental_ok, true AS p50_in_bound FROM lineitem"),
    "hist_drift" -> (s"WITH q AS (SELECT least(greatest(" +
      "CAST(floor(CAST(l_quantity AS DOUBLE)) AS INT), 0), 50) AS b, " +
      s"CASE WHEN l_shipdate < TIMESTAMP '$shipCut' THEN 1 ELSE 0 END AS old " +
      "FROM lineitem), " +
      "h AS (SELECT b, sum(old) AS c1, count(*) AS c2 FROM q GROUP BY b), " +
      "n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1, " +
      "CAST(sum(c2) AS DOUBLE) AS n2 FROM h) " +
      "SELECT CAST(n.n1 AS BIGINT) AS n_old, CAST(n.n2 AS BIGINT) AS n_all, " +
      "round(0.5 * (SELECT sum(abs(c1/n.n1 - c2/n.n2)) FROM h), 6) AS drift " +
      "FROM n"),
    "cms_gate" -> ("SELECT count(l_suppkey) AS n_rows, " +
      "true AS mass_uniform, true AS incremental_ok, " +
      "true AS merge_exact, true AS all_ge FROM lineitem"),
    "profile_topk" -> ("SELECT value, cnt, rank FROM (SELECT lang AS value, " +
      "CAST(count(*) AS BIGINT) AS cnt, row_number() OVER " +
      "(ORDER BY count(*) DESC, lang) AS rank FROM documents " +
      "WHERE lang IS NOT NULL GROUP BY lang) WHERE rank <= 5"),
    "minhash_recall" -> "SELECT true AS recall_ok",
    "minhash_index_gate" -> ("SELECT true AS planted_found, true AS fresh_clean, " +
      "true AS paths_agree"),
    "dedup_drop_gate" -> "SELECT CAST(0 AS BIGINT) AS planted_survivors",
    // star rounds and driver union-find must label identically on the
    // full dup graph (an empty graph would read -1 and fail the gate)
    "dedup_star_gate" ->
      "SELECT CAST(0 AS BIGINT) AS mismatches, true AS nonempty",
    "simhash_recall" -> "SELECT CAST(0 AS BIGINT) AS missed",
    "text_fp_gate" -> "SELECT CAST(0 AS BIGINT) AS violations",
    // interval overlap: DuckDB replays the naive predicate exactly
    "overlap_join" -> ("WITH e AS (SELECT event_id, user_id, " +
      "CAST(ts AS TIMESTAMP) AS ts FROM events), " +
      "l AS (SELECT user_id, event_id AS lwin_id, ts AS ls, " +
      "ts + INTERVAL 1 HOUR AS le FROM e WHERE event_id % 7 = 0), " +
      "r AS (SELECT user_id, event_id AS rwin_id, ts AS rs, " +
      "ts + INTERVAL 2 HOUR AS re FROM e WHERE event_id % 5 = 0) " +
      "SELECT l.lwin_id, r.rwin_id FROM l JOIN r " +
      "ON l.user_id = r.user_id AND l.ls < r.re AND r.rs < l.le"),
    // interval containment: DuckDB replays the naive range join exactly
    "range_join" -> ("WITH e AS (SELECT event_id, user_id, " +
      "CAST(ts AS TIMESTAMP) AS ts FROM events), " +
      "w AS (SELECT user_id, event_id AS win_id, ts AS ws, " +
      "ts + INTERVAL 2 HOUR AS we FROM e WHERE event_id % 5 = 0) " +
      "SELECT l.event_id, w.win_id FROM e l JOIN w " +
      "ON l.user_id = w.user_id AND l.ts >= w.ws AND l.ts < w.we"),
    "asof_join" -> ("SELECT c.event_id, c.user_id, c.ts, p.ts AS p_ts, p.value AS p_value " +
      "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events " +
      "WHERE event_type = 'click') c " +
      "ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events " +
      "WHERE event_type = 'purchase') p " +
      "ON c.user_id = p.user_id AND c.ts >= p.ts"),
    // forward: DuckDB's ASOF with the flipped inequality
    "asof_forward" -> ("SELECT c.event_id, c.user_id, c.ts, p.ts AS p_ts, " +
      "p.value AS p_value " +
      "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events " +
      "WHERE event_type = 'click') c " +
      "ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events " +
      "WHERE event_type = 'purchase') p " +
      "ON c.user_id = p.user_id AND c.ts <= p.ts"),
    // nearest: exact argmin per click over the per-user purchases —
    // distance first, backward preferred on ties (the pandas rule)
    "asof_nearest" -> ("WITH c AS (SELECT event_id, user_id, " +
      "CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events " +
      "WHERE event_type = 'purchase'), " +
      "j AS (SELECT c.event_id, c.user_id, c.ts, p.ts AS p_ts, " +
      "p.value AS p_value, abs(epoch_us(c.ts) - epoch_us(p.ts)) AS d, " +
      "CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END AS pref " +
      "FROM c JOIN p USING (user_id)), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY event_id " +
      "ORDER BY d, pref, p_ts) AS rn FROM j) " +
      "SELECT event_id, user_id, ts, p_ts, p_value FROM r WHERE rn = 1"),
    // tolerance as a post-filter on the most-recent match — identical
    // semantics to tolerance-limited as-of (older matches are farther)
    "asof_tol" -> ("SELECT c.event_id, c.user_id, c.ts, p.ts AS p_ts, p.value AS p_value " +
      "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events " +
      "WHERE event_type = 'click') c " +
      "ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events " +
      "WHERE event_type = 'purchase') p " +
      "ON c.user_id = p.user_id AND c.ts >= p.ts " +
      "WHERE epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000"),
    "asof_outer" -> ("SELECT c.event_id, c.user_id, c.ts, p.ts AS p_ts, p.value AS p_value " +
      "FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events " +
      "WHERE event_type = 'click') c " +
      "ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events " +
      "WHERE event_type = 'purchase') p " +
      "ON c.user_id = p.user_id AND c.ts >= p.ts"),
    "ev_window_agg" -> ("SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) " +
      "AS TIMESTAMP) AS window_start, event_type, count(*) AS n, " +
      "CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY 1, 2"),
    // min-gram signature: DuckDB recomputes the md5-prefix hash of
    // every k-gram (k=8) on the same normalized text; texts shorter
    // than k hash as one whole-text gram (greatest(len-7, 1))
    "text_minhash_sig" -> ("WITH n AS (SELECT doc_id, " +
      "lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents) " +
      "SELECT doc_id, list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1), " +
      "p -> CAST(concat('0x', substring(md5(substring(t, CAST(p AS INT), 8)), 1, 15)) " +
      "AS BIGINT))) AS sig FROM n"),
    // rows-only checks (non-SQL-expressible or approximate), each
    // paired with a driver-checkable gate query:
    //   minhash_neardups -> minhash_recall, simhash_neardups ->
    //   simhash_recall, knn_ivf -> knn_ivf_recall (the native
    //   rolling-hash fingerprint is gated by text_fp_gate)
  )
}
