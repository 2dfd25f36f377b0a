package graft

import graft.core._
import graft.core.Json._
import graft.storage.{ArrayTable, Group, VFS}
import org.apache.spark.sql.functions._

class ArrayTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshUri(name: String): String = TestSession.tmpDir(name)

  private def sample = Seq(
    (1L, 1, 10.0, "a"),
    (1L, 2, 20.0, "b"),
    (2L, 1, 30.0, "c"),
    (5L, 1, 50.0, "d"),
  ).toDF("x", "y", "v", "s")

  private val dims = Seq("x", "y")

  test("create / schema round-trip through JSON") {
    val uri = freshUri("schema")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64", Some(("0", "100")), Some(10L)), Dim("y", "int32")),
      attrs = Seq(
        Attr("v", "float64", fill = Some("-1")),
        Attr("s", "utf8", nullable = true, isVar = true),
        Attr("cat", "utf8", enumLabel = Some("colors"))),
      enums = Seq(Enumeration("colors", Seq("red", "green", "blue"))),
      capacity = 5000, allowsDuplicates = true)
    ArrayTable.create(spark, uri, schema)
    val back = ArrayTable.schemaOf(spark, uri)
    assert(back == schema.copy(version = 1))
    assert(Group.objectType(spark, uri) == "array")
  }

  test("write / read round-trip preserves rows and types") {
    val uri = freshUri("rt")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(10L), overwrite = true)
    val back = ArrayTable.read(spark, uri)
    assert(back.schema.fieldNames.toSeq == Seq("x", "y", "v", "s"))
    assert(back.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3)))
      .toSet == sample.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getString(3))).toSet)
  }

  test("time travel: reads at a timestamp see only earlier fragments") {
    val uri = freshUri("tt")
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" =!= 1), uri, Some(200L))
    assert(ArrayTable.read(spark, uri).count() == 4)
    assert(ArrayTable.read(spark, uri, at = Some((0L, 150L))).count() == 2)
    assert(ArrayTable.read(spark, uri, at = Some((150L, 300L))).count() == 2)
    assert(ArrayTable.read(spark, uri, at = Some((0L, 50L))).count() == 0)
  }

  test("snapshot diff: fast append path, upsert pairs, tombstone deletes") {
    val uri = freshUri("diff")
    val mk = (lo: Long, hi: Long, v: Double) =>
      (lo to hi).map(x => (x, 0, v, s"s$x")).toDF("x", "y", "v", "s")
    // append-only, disjoint MBRs -> fast path: diff == delta fragment
    ArrayTable.ingest(spark, mk(1, 10, 1.0), uri, dims, tsOpt = Some(100L),
      overwrite = true)
    ArrayTable.write(spark, mk(11, 20, 2.0), uri, Some(200L))
    val d1 = ArrayTable.diff(spark, uri, (0L, 150L), (0L, 250L))
    assert(d1.filter($"change_type" === "insert").count() == 10)
    assert(d1.filter($"change_type" === "delete").count() == 0)
    assert(d1.select(min($"x")).head().getLong(0) == 11L)
    // the fast path never opens the old fragment's files
    val scanned = d1.queryExecution.executedPlan.collectLeaves().mkString
    val frag100 = ArrayTable.fragments(spark, uri).filter(_.ts == 100L)
    assert(frag100.nonEmpty && !frag100.exists(f => scanned.contains(f.name)),
      "old fragment must not be scanned on the append-only path")
    // upsert (overlapping MBR): shadowed cells are delete/insert pairs
    ArrayTable.write(spark, mk(1, 3, 9.0), uri, Some(300L))
    val d2 = ArrayTable.diff(spark, uri, (0L, 250L), (0L, 350L))
      .select($"x", $"v", $"change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(d2 == (1L to 3L).flatMap(x =>
      Seq((x, 1.0, "delete"), (x, 9.0, "insert"))).toSet, d2)
    // tombstone in the delta window: pure deletes
    ArrayTable.delete(spark, uri, "x >= 18", tsOpt = Some(400L))
    val d3 = ArrayTable.diff(spark, uri, (0L, 350L), (0L, 450L))
      .select($"x", $"change_type").as[(Long, String)].collect().toSet
    assert(d3 == (18L to 20L).map(x => (x, "delete")).toSet, d3)
    // identical windows diff to nothing
    assert(ArrayTable.diff(spark, uri, (0L, 450L), (0L, 450L)).count() == 0)
  }

  test("shadowing: later fragment wins at same coordinates") {
    val uri = freshUri("shadow")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    val upd = Seq((1L, 1, 99.0, "A")).toDF("x", "y", "v", "s")
    ArrayTable.write(spark, upd, uri, Some(200L))
    val got = ArrayTable.read(spark, uri).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got((1L, 1)) == 99.0)
    assert(got.size == 4)
    // time travel before the update sees the original value
    val old = ArrayTable.read(spark, uri, at = Some((0L, 150L))).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(old((1L, 1)) == 10.0)
  }

  test("allows_duplicates keeps coordinate duplicates") {
    val uri = freshUri("dups")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true,
      allowsDuplicates = true)
    ArrayTable.write(spark, sample.filter($"x" === 1), uri, Some(200L))
    assert(ArrayTable.read(spark, uri).count() == 6)
  }

  test("conditional delete tombstones; time travel sees pre-delete state") {
    val uri = freshUri("del")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.delete(spark, uri, "v >= 30.0", Some(150L))
    assert(ArrayTable.read(spark, uri).count() == 2)
    assert(ArrayTable.read(spark, uri, at = Some((0L, 120L))).count() == 4)
    // rows written AFTER the delete are not affected by it
    ArrayTable.write(spark, Seq((9L, 9, 90.0, "z")).toDF("x", "y", "v", "s"), uri, Some(200L))
    assert(ArrayTable.read(spark, uri).count() == 3)
  }

  test("delete validates the condition against the schema") {
    val uri = freshUri("delbad")
    ArrayTable.ingest(spark, sample, uri, dims, overwrite = true)
    assertThrows[IllegalArgumentException] {
      ArrayTable.delete(spark, uri, "nosuch > 1")
    }
  }

  test("truncate hides prior fragments, preserves history, same-ts writes stay visible") {
    val uri = freshUri("trunc")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.limit(1), uri, Some(200L))
    ArrayTable.truncate(spark, uri, Some(300L))
    // visible state: empty; fragments untouched on disk
    assert(ArrayTable.read(spark, uri).count() == 0)
    assert(ArrayTable.fragments(spark, uri).size == 2)
    // time travel below the truncation resolves full history (the
    // ts=200 rewrite of (1,1) shadows, so still 4 rows)
    assert(ArrayTable.read(spark, uri, at = Some((0L, 250L))).count() == 4)
    assert(ArrayTable.read(spark, uri, at = Some((0L, 150L))).count() == 4)
    // a write at the truncation's own timestamp is AFTER it (seq tiebreak)
    ArrayTable.write(spark, sample.limit(2), uri, Some(300L))
    assert(ArrayTable.read(spark, uri).count() == 2)
    // conditional tombstones wholly before the truncation are no-ops and
    // don't force the resolution path
    ArrayTable.delete(spark, uri, "x >= 1", Some(250L))
    assert(ArrayTable.read(spark, uri).count() == 2)
    val (live, dels) = ArrayTable.applyTruncation(
      ArrayTable.fragments(spark, uri), ArrayTable.deletes(spark, uri))
    assert(live.size == 1 && dels.isEmpty)
    // a tombstone after the truncation still applies to surviving rows
    ArrayTable.delete(spark, uri, "y == 1", Some(400L))
    assert(ArrayTable.read(spark, uri).count() == 1)
  }

  test("delete_fragments drops a timestamp range; vacuum clears trash") {
    val uri = freshUri("delfrag")
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" =!= 1), uri, Some(200L))
    ArrayTable.deleteFragments(spark, uri, 150L, 250L)
    assert(ArrayTable.read(spark, uri).count() == 2)
    ArrayTable.vacuum(spark, uri)
    assert(!VFS(spark).exists(s"$uri/__trash"))
  }

  test("consolidate merges fragments, applies deletes, vacuum cleans") {
    val uri = freshUri("consol")
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" =!= 1), uri, Some(200L))
    ArrayTable.delete(spark, uri, "s == 'c'", Some(150L))
    val before = ArrayTable.read(spark, uri).collect().toSet
    ArrayTable.consolidate(spark, uri)
    assert(ArrayTable.fragments(spark, uri).size == 1)
    assert(ArrayTable.deletes(spark, uri).isEmpty) // purged
    assert(ArrayTable.read(spark, uri).collect().toSet == before)
    ArrayTable.vacuum(spark, uri)
  }

  test("consolidation plan: size-balanced nodes; partial execution keeps others intact") {
    val uri = freshUri("consolplan")
    // four fragments of 1-2 cells each
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" === 2), uri, Some(200L))
    ArrayTable.write(spark, sample.filter($"x" === 5), uri, Some(300L))
    ArrayTable.write(spark, Seq((9L, 1, 90.0, "z")).toDF("x", "y", "v", "s"), uri, Some(400L))
    val before = ArrayTable.read(spark, uri).collect().toSet
    // cap 3 cells/node: [f1(2 cells), f2(1)] then [f3(1), f4(1)]
    val plan = ArrayTable.consolidationPlan(spark, uri, maxCellsPerNode = 3L)
    assert(plan.size == 2, s"plan: ${plan.map(_.map(_.name))}")
    assert(plan.head.map(_.ts) == Seq(100L, 200L))
    assert(plan(1).map(_.ts) == Seq(300L, 400L))
    // execute only the FIRST node: 4 fragments -> 3, answers unchanged
    val merged = ArrayTable.consolidate(spark, uri, Seq(plan.head))
    assert(merged.size == 1 && merged.head.ts == 200L)
    val after = ArrayTable.fragments(spark, uri)
    assert(after.size == 3)
    assert(after.map(_.ts).sorted == Seq(200L, 300L, 400L))
    assert(ArrayTable.read(spark, uri).collect().toSet == before)
    // equal-ts runs never split across nodes
    val uri2 = freshUri("consolplan2")
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri2, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" === 2), uri2, Some(100L))
    ArrayTable.write(spark, sample.filter($"x" === 5), uri2, Some(100L))
    assert(ArrayTable.consolidationPlan(spark, uri2, maxCellsPerNode = 1L).size == 1)
  }

  test("fragment tools: copy across arrays, recreate in place, per-row-group mbrs") {
    val src = freshUri("fragsrc")
    val dst = freshUri("fragdst")
    ArrayTable.ingest(spark, sample, src, dims, tsOpt = Some(100L), overwrite = true)
    val fragName = ArrayTable.fragments(spark, src).head.name
    // copy: same rows land in the destination at the source timestamp
    ArrayTable.create(spark, dst, ArrayTable.schemaOf(spark, src))
    val copied = ArrayTable.copyFragment(spark, src, fragName, dst)
    assert(copied.ts == 100L && copied.cellCount == 4L)
    assert(ArrayTable.read(spark, dst).collect().toSet ==
      ArrayTable.read(spark, src).collect().toSet)
    // recreate: fragment count unchanged, data identical, old dir trashed
    val before = ArrayTable.read(spark, src).collect().toSet
    val recreated = ArrayTable.recreateFragment(spark, src, fragName)
    assert(recreated.ts == 100L && recreated.name != fragName)
    assert(ArrayTable.fragments(spark, src).map(_.name) == Seq(recreated.name))
    assert(ArrayTable.read(spark, src).collect().toSet == before)
    // per-row-group MBRs cover the written dims
    val mbrs = ArrayTable.fragmentMbrs(spark, src, recreated.name)
    assert(mbrs.nonEmpty)
    assert(mbrs.forall(m => m.contains("x") && m.contains("y")))
  }

  test("schema evolution: added attr fills old fragments; dropped attr disappears") {
    val uri = freshUri("evolve")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.addAttr(spark, uri, Attr("w", "int64", fill = Some("7")))
    val withW = ArrayTable.read(spark, uri)
    assert(withW.columns.contains("w"))
    assert(withW.select("w").as[Long].collect().forall(_ == 7L))
    // new fragment carries real w values
    ArrayTable.write(spark,
      Seq((8L, 8, 80.0, "h", 42L)).toDF("x", "y", "v", "s", "w"), uri, Some(200L))
    val all = ArrayTable.read(spark, uri).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("w"))).toMap
    assert(all(8L) == 42L && all(1L) == 7L)
    ArrayTable.dropAttr(spark, uri, "s")
    assert(!ArrayTable.read(spark, uri).columns.contains("s"))
  }

  test("upgrade_version rewrites stale fragments to the current schema") {
    val uri = freshUri("upgrade")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.addAttr(spark, uri, Attr("w", "int64", fill = Some("7")))
    ArrayTable.write(spark,
      Seq((8L, 8, 80.0, "h", 42L)).toDF("x", "y", "v", "s", "w"), uri, Some(200L))
    val before = ArrayTable.read(spark, uri).orderBy("x", "y").collect().toSeq
    val latest = ArrayTable.schemaOf(spark, uri).version
    assert(ArrayTable.fragments(spark, uri).exists(_.schemaVersion != latest))

    val rewritten = ArrayTable.upgradeVersion(spark, uri)
    assert(rewritten.size == 1) // only the stale fragment is touched
    assert(ArrayTable.fragments(spark, uri).forall(_.schemaVersion == latest))
    // reads are unchanged; the fill value is now baked into the data
    assert(ArrayTable.read(spark, uri).orderBy("x", "y").collect().toSeq == before)
    val oldFrag = spark.read.parquet(s"${rewritten.head.path}/data")
    assert(oldFrag.columns.contains("w"))
    // idempotent: nothing left to migrate
    assert(ArrayTable.upgradeVersion(spark, uri).isEmpty)
  }

  test("upgrade_version re-encodes enums through the current dictionary") {
    val uri = freshUri("upgradeenum")
    val data = Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("x", "color")
    ArrayTable.ingest(spark, data, uri, Seq("x"), tsOpt = Some(100L),
      overwrite = true, inferEnums = true)
    ArrayTable.extendEnum(spark, uri, "color_enum", Seq("mauve"))
    ArrayTable.write(spark, Seq((4L, "mauve")).toDF("x", "color"), uri, Some(200L))
    val before = ArrayTable.read(spark, uri).orderBy("x").collect().toSeq
    ArrayTable.upgradeVersion(spark, uri)
    val latest = ArrayTable.schemaOf(spark, uri).version
    assert(ArrayTable.fragments(spark, uri).forall(_.schemaVersion == latest))
    assert(ArrayTable.read(spark, uri).orderBy("x").collect().toSeq == before)
  }

  test("current_domain shrink: manifest-validated, rejects exposing written cells") {
    val uri = freshUri("shrinkcd")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    // sample x in [1,5], y in [1,2]: shrinking to x<=3 would orphan x=5
    val err = intercept[IllegalArgumentException] {
      ArrayTable.setCurrentDomain(spark, uri, Map("x" -> ("1", "3")))
    }
    assert(err.getMessage.contains("current_domain"))
    // a rectangle covering all written data is accepted...
    ArrayTable.setCurrentDomain(spark, uri, Map("x" -> ("1", "6"), "y" -> ("1", "2")))
    assert(ArrayTable.schemaOf(spark, uri).currentDomain.contains(
      Map("x" -> ("1", "6"), "y" -> ("1", "2"))))
    // ...and writes outside the shrunk rectangle now fail
    assertThrows[Exception] {
      ArrayTable.write(spark,
        Seq((9L, 1, 90.0, "z")).toDF("x", "y", "v", "s"), uri, Some(200L))
    }
    // unknown dims are rejected
    assertThrows[IllegalArgumentException] {
      ArrayTable.setCurrentDomain(spark, uri, Map("nope" -> ("0", "1")))
    }
  }

  test("concurrent writers at the same timestamp both commit (uuid fragment dirs)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val uri = freshUri("concwrite")
    ArrayTable.ingest(spark, Seq((1L, 1, 1.0, "a")).toDF("x", "y", "v", "s"),
      uri, dims, tsOpt = Some(100L), overwrite = true)
    // both writers race from the same manifest snapshot: same ts, and
    // (likely) the same seq — the uuid suffix must keep their fragment
    // directories disjoint so neither clobbers the other
    val writes = Seq(2L, 3L).map(x => Future {
      ArrayTable.write(spark,
        Seq((x, 1, x * 10.0, s"w$x")).toDF("x", "y", "v", "s"), uri, Some(200L))
    })
    val infos = Await.result(Future.sequence(writes), 120.seconds)
    assert(infos.map(_.path).distinct.size == 2)
    assert(ArrayTable.fragments(spark, uri).size == 3)
    assert(ArrayTable.read(spark, uri).orderBy("x")
      .select("x").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("a fragment dir whose name does not carry its manifest (ts, seq) fails resolution") {
    val uri = freshUri("badname")
    ArrayTable.ingest(spark, sample.filter($"x" === 1), uri, dims, tsOpt = Some(100L),
      overwrite = true)
    val f = ArrayTable.write(spark, sample.filter($"x" =!= 1), uri, Some(200L))
    // the tombstone forces the resolution path, which parses (ts, seq)
    // from the dir name; drop the name's uuid suffix
    ArrayTable.delete(spark, uri, "v > 40.0", Some(300L))
    val bare = f"$uri/__fragments/f_${f.ts}%013d_${f.seq}%05d"
    assert(VFS(spark).rename(f.path, bare))
    val e = intercept[IllegalArgumentException](ArrayTable.read(spark, uri).collect())
    assert(e.getMessage.contains(bare), e.getMessage)
  }

  test("readers racing an appending writer never see a partial manifest") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val uri = freshUri("appendrace")
    ArrayTable.ingest(spark, Seq((0L, 1, 0.0, "a")).toDF("x", "y", "v", "s"),
      uri, dims, tsOpt = Some(100L), overwrite = true)
    val appends = 20
    @volatile var stop = false
    val reader = Future {
      var loops = 0
      var lastRows = 1L
      while (!stop) {
        val frags = ArrayTable.fragments(spark, uri).size
        assert(frags >= 1 && frags <= appends + 1, s"fragment count $frags")
        val rows = graft.query.ArrayQuery(spark, uri).attrs("v").df.count()
        assert(rows >= lastRows && rows <= appends + 1, s"row count $rows")
        lastRows = rows
        loops += 1
      }
      loops
    }
    try (1 to appends).foreach { i =>
      ArrayTable.write(spark,
        Seq((i.toLong, 1, i.toDouble, s"w$i")).toDF("x", "y", "v", "s"), uri,
        Some(100L + i))
    } finally stop = true
    assert(Await.result(reader, 120.seconds) > 0, "reader never completed a loop")
    assert(ArrayTable.fragments(spark, uri).size == appends + 1)
    assert(ArrayTable.read(spark, uri).count() == appends + 1)
  }

  test("enumerations: encode on write, decode on read, extend") {
    val uri = freshUri("enum")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64")),
      attrs = Seq(Attr("color", "utf8", enumLabel = Some("colors"))),
      enums = Seq(Enumeration("colors", Seq("red", "green", "blue"))))
    ArrayTable.create(spark, uri, schema)
    val data = Seq((1L, "red"), (2L, "blue"), (3L, "green")).toDF("x", "color")
    ArrayTable.write(spark, ArrayTable.encodeEnums(data, schema), uri, Some(100L))
    val back = ArrayTable.read(spark, uri).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(back == Map(1L -> "red", 2L -> "blue", 3L -> "green"))
    ArrayTable.extendEnum(spark, uri, "colors", Seq("black"))
    val s2 = ArrayTable.schemaOf(spark, uri)
    assert(s2.enumeration("colors").values == Seq("red", "green", "blue", "black"))
    assertThrows[IllegalArgumentException] {
      Enumeration("colors", Seq("red")).extend(Seq("red"))
    }
  }

  test("enum inference at ingest: low-cardinality strings become enums") {
    val uri = freshUri("enuminfer")
    val data = Seq(
      (1L, "red", "alpha"), (2L, "blue", "beta"), (3L, "red", "gamma"),
      (4L, "green", "delta"), (5L, "blue", "epsilon")).toDF("x", "color", "name")
    ArrayTable.ingest(spark, data, uri, Seq("x"), tsOpt = Some(100L),
      overwrite = true, inferEnums = true, maxEnumValues = 3)
    val schema = ArrayTable.schemaOf(spark, uri)
    assert(schema.attr("color").enumLabel.contains("color_enum"))
    assert(schema.enumeration("color_enum").values == Seq("blue", "green", "red"))
    assert(schema.attr("name").enumLabel.isEmpty) // 5 distinct > maxEnumValues
    // decoded read round-trips the original values
    val back = ArrayTable.read(spark, uri).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == data.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    // codes, not strings, are on disk
    val frag = ArrayTable.fragments(spark, uri).head
    val raw = spark.read.parquet(s"${frag.path}/data")
    assert(raw.schema("color").dataType == org.apache.spark.sql.types.IntegerType)
    // later writes with string values auto-encode through the dictionary
    ArrayTable.write(spark, Seq((6L, "green", "zeta")).toDF("x", "color", "name"), uri, Some(200L))
    assert(ArrayTable.read(spark, uri).filter($"x" === 6L).collect()(0).getString(1) == "green")
    // out-of-dictionary values fail loudly instead of writing null codes
    assertThrows[Exception] {
      ArrayTable.write(spark, Seq((7L, "mauve", "eta")).toDF("x", "color", "name"), uri, Some(300L))
    }
  }

  test("multi-value cells: fixed ncells validated, complex round-trips") {
    val uri = freshUri("mvcells")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64")),
      attrs = Seq(Attr("z", "complex64"), Attr("triple", "array[int64,3]")))
    ArrayTable.create(spark, uri, schema)
    assert(Dtypes.ncellsOf("complex128").contains(2))
    assert(Dtypes.ncellsOf("array[int64,3]").contains(3))
    assert(Dtypes.ncellsOf("array[int64]").isEmpty)
    val good = Seq(
      (1L, Array(1.0f, 2.0f), Array(1L, 2L, 3L)),
      (2L, Array(-0.5f, 0.25f), Array(4L, 5L, 6L))).toDF("x", "z", "triple")
    ArrayTable.write(spark, good, uri, Some(100L))
    val back = ArrayTable.read(spark, uri).orderBy("x").collect()
    assert(back(0).getSeq[Float](1) == Seq(1.0f, 2.0f))
    assert(back(1).getSeq[Long](2) == Seq(4L, 5L, 6L))
    // ragged cells rejected at write (reference rejects heterogeneous
    // record dtypes, tiledb/datatypes.py:41-42)
    assertThrows[Exception] {
      ArrayTable.write(spark,
        Seq((3L, Array(1.0f), Array(1L, 2L, 3L))).toDF("x", "z", "triple"), uri, Some(200L))
    }
  }

  test("nonempty domain from manifests, no data scan") {
    val uri = freshUri("ned")
    ArrayTable.ingest(spark, sample, uri, dims, tsOpt = Some(100L), overwrite = true)
    val ned = ArrayTable.nonemptyDomain(spark, uri)
    assert(ned("x") == (JLong(1L), JLong(5L)))
    assert(ned("y") == (JLong(1L), JLong(2L)))
  }

  test("MBR pruning skips non-intersecting fragments") {
    val uri = freshUri("mbr")
    ArrayTable.ingest(spark, sample.filter($"x" <= 2), uri, dims, tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" > 2), uri, Some(200L))
    // range x in [4,9] intersects only fragment 2
    val df = ArrayTable.read(spark, uri, ranges = Map("x" -> (Some(4L), Some(9L))))
    assert(df.count() == 1)
    // the scan only references one fragment path
    val scanned = df.queryExecution.executedPlan.toString()
    assert(!scanned.contains("f_0000000000100"))
  }

  test("many non-overlapping fragments collapse to ONE multi-path scan") {
    val uri = freshUri("manyfrags")
    val first = Seq((0L, 0, 0.0, "z")).toDF("x", "y", "v", "s")
    ArrayTable.ingest(spark, first, uri, dims, tsOpt = Some(1L), overwrite = true)
    (1 until 20).foreach { i =>
      val df = Seq((i * 100L, 1, i * 1.0, s"s$i"), (i * 100L + 1, 1, i * 2.0, s"t$i"))
        .toDF("x", "y", "v", "s")
      ArrayTable.write(spark, df, uri, Some(i + 1L))
    }
    val read = ArrayTable.read(spark, uri)
    assert(read.count() == 39)
    val scans = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected 1 multi-path scan, got ${scans.size}")
    // MBR pruning still applies per fragment on the fast path
    val pruned = ArrayTable.read(spark, uri, ranges = Map("x" -> (Some(500L), Some(501L))))
    assert(pruned.count() == 2)
    val prunedScan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(prunedScan.relation.location.rootPaths.size == 1)
  }

  test("array metadata KV") {
    val uri = freshUri("meta")
    ArrayTable.ingest(spark, sample, uri, dims, overwrite = true)
    ArrayTable.putMeta(spark, uri, "owner", JStr("graft"))
    ArrayTable.putMeta(spark, uri, "version", JLong(3L))
    assert(ArrayTable.getMeta(spark, uri, "owner").contains(JStr("graft")))
    ArrayTable.putMeta(spark, uri, "owner", JStr("other"))
    assert(ArrayTable.getMeta(spark, uri, "owner").contains(JStr("other")))
    ArrayTable.deleteMeta(spark, uri, "owner")
    assert(ArrayTable.getMeta(spark, uri, "owner").isEmpty)
    assert(ArrayTable.getMeta(spark, uri, "version").contains(JLong(3L)))
    // ndarray-valued entries: flat values + shape round-trip under
    // companion keys; listing collapses them to the bare name
    ArrayTable.putMetaNd(spark, uri, "calib",
      Seq(1.5, 2.5, 3.5, 4.5, 5.5, 6.5).map(JNum), Seq(2L, 3L))
    val (flat, shape) = ArrayTable.getMetaNd(spark, uri, "calib").get
    assert(shape == Seq(2L, 3L))
    assert(flat == Seq(1.5, 2.5, 3.5, 4.5, 5.5, 6.5).map(JNum))
    assert(ArrayTable.metaKeys(spark, uri) == Seq("calib", "version"))
    assertThrows[IllegalArgumentException] {
      ArrayTable.putMetaNd(spark, uri, "bad", Seq(JNum(1.0)), Seq(2L, 2L))
    }
    ArrayTable.deleteMetaNd(spark, uri, "calib")
    assert(ArrayTable.getMetaNd(spark, uri, "calib").isEmpty)
  }

  test("groups: create/add/ls/walk/remove/object_type") {
    val g = freshUri("grp")
    val sub = s"$g/sub"
    val arr = freshUri("grparr")
    ArrayTable.ingest(spark, sample, arr, dims, overwrite = true)
    Group.create(spark, g)
    Group.create(spark, sub)
    Group.add(spark, g, sub, Some("sub"))
    Group.add(spark, g, arr, Some("data"))
    Group.add(spark, sub, arr, Some("data2"))
    assert(Group.members(spark, g).map(_.objectType).sorted == Seq("array", "group"))
    assert(Group.walk(spark, g).size == 3)
    Group.remove(spark, g, arr)
    assert(Group.members(spark, g).size == 1)
    assert(Group.objectType(spark, g) == "group")
    assert(Group.objectType(spark, freshUri("nothing")) == "invalid")
  }
}
