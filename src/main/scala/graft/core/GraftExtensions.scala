package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** Registers the native kernels as SQL functions via
  * `SparkSessionExtensions`, so pure-SQL users (spark-sql shell,
  * thrift server, `spark.sql(...)`) can call them without touching the
  * Scala API:
  *
  * {{{
  *   spark.sql("SELECT doc_id, simhash64(split(text, '\\\\s+')) FROM docs")
  *   spark.sql("SELECT dot_f(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT minhash_sig(shingle_hashes(text, 5), 64) FROM docs")
  * }}}
  *
  * Activate with `spark.sql.extensions=graft.core.GraftExtensions`
  * (set by [[GraftSession.builder]]) — the standard config-based
  * extension hook, so external sessions opt in with one conf. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(args: Seq[Expression], i: Int, name: String, fn: String): Int =
    args(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} ($name) must be an integer literal, got $other")
    }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.size == n, s"$fn expects $n arguments, got ${args.size}")

  /** Coerce other NUMERIC array types (SQL's default `array(1.0, 2.0)`
    * is array<decimal>!) to array<double> so the float kernels accept
    * idiomatic SQL literals; float/double arrays pass through
    * unchanged (float -> double widening inside the kernel is exact,
    * so this adds surface without changing any existing result). */
  private def asFloatingArray(e: Expression): Expression = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, NumericType}
    if (!e.resolved) e
    else e.dataType match {
      case org.apache.spark.sql.types.ArrayType(FloatType | DoubleType, _) => e
      case ArrayType(_: NumericType, n) =>
        org.apache.spark.sql.catalyst.expressions.Cast(e, ArrayType(DoubleType, n))
      case _ => e
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // enum label predicates collapse to pushable code predicates
    ext.injectOptimizerRule(_ => graft.plans.EnumPredicatePushdown)
    // MVCC-resolution reads of the graft source — V1 path loads AND
    // catalog-loaded DSv2 tables — inline their resolution plan
    // (columnar parquet leaves) instead of an opaque row scan.
    // Optimizer-time (not analysis): pushdown parks dim filters on the
    // relation first, so the rule can MBR-prune fragments' FILES even
    // for DataFrame-incremental reads (spark.table(...).filter(...)),
    // and cached graft reads keep matching in the CacheManager. The
    // rule matches both pre- and post-V2ScanRelationPushDown node
    // shapes, so it does not depend on optimizer batch order.
    ext.injectOptimizerRule(session =>
      graft.plans.ResolutionReadInline(session))
    // SQL UPDATE -> merge-on-read shadow-fragment write (row-level
    // command targets are intact at analysis; the optimizer-time
    // inline above also shields them)
    ext.injectPostHocResolutionRule(session =>
      graft.plans.UpdateRewrite(session))
    // readStream.table(<catalog graft table>) -> fragment file stream
    ext.injectPostHocResolutionRule(session =>
      graft.plans.StreamTableRewrite(session))
    // a BM25 index probe (Search.bm25IndexTopK) -> its scoring operator
    ext.injectPlannerStrategy(_ => graft.ops.Bm25ProbeStrategy)

    def register(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage), builder))

    register("shingle_hashes",
      "shingle_hashes(str, k) - distinct 64-bit rolling hashes of all k-byte shingles") { args =>
      arity("shingle_hashes", args, 2)
      ShingleHashes(args.head, intArg(args, 1, "k", "shingle_hashes"))
    }
    register("minhash_sig",
      "minhash_sig(hashes, n) - n MinHash lane minima over a hashed shingle set") { args =>
      arity("minhash_sig", args, 2)
      MinHashSig(args.head, intArg(args, 1, "n", "minhash_sig"))
    }
    register("simhash64",
      "simhash64(tokens) - 64-bit SimHash over a token array") { args =>
      arity("simhash64", args, 1)
      SimHash64(args.head)
    }
    register("dot_f",
      "dot_f(a, b) - dot product of two numeric arrays") { args =>
      arity("dot_f", args, 2)
      DotF(asFloatingArray(args.head), asFloatingArray(args(1)))
    }
    register("vec_sign_bits",
      "vec_sign_bits(vec, nBits, seedOffset) - packed hyperplane-projection sign bits") { args =>
      arity("vec_sign_bits", args, 3)
      VecSignBits(asFloatingArray(args.head),
        intArg(args, 1, "nBits", "vec_sign_bits"),
        intArg(args, 2, "seedOffset", "vec_sign_bits"))
    }
    register("lane_matches",
      "lane_matches(a, b) - count of positionally-equal lanes of two signatures") { args =>
      arity("lane_matches", args, 2)
      LaneMatches(args.head, args(1))
    }
    register("sorted_long_jaccard",
      "sorted_long_jaccard(a, b) - exact Jaccard of two sorted-distinct bigint arrays") { args =>
      arity("sorted_long_jaccard", args, 2)
      SortedLongJaccard(args.head, args(1))
    }
    register("hilbert_index",
      "hilbert_index(bits, d1, d2, ...) - Hilbert curve index of normalized coordinates") { args =>
      require(args.size >= 2, s"hilbert_index expects bits + at least one dim, got ${args.size}")
      HilbertIndex(args.tail, intArg(args, 0, "bits", "hilbert_index"))
    }

    // text-pipeline scalars: composite Column expressions registered
    // through the Column<->Expression shim, so spark-sql users run the
    // same curation predicates the Scala API builds
    import org.apache.spark.sql.graftshim.Shim
    def registerCol(name: String, usage: String, n: Int)(
        f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Unit =
      register(name, usage) { args =>
        arity(name, args, n)
        Shim.toExpressionEager(f(args.map(Shim.toColumn)))
      }
    registerCol("lang_id",
      "lang_id(text) - heuristic language code (~28 languages) or 'und'", 1)(
      cs => graft.ops.TextAnalysis.langId(cs.head))
    registerCol("quality_score",
      "quality_score(text) - [0,1] text-quality heuristic", 1)(
      cs => graft.ops.TextAnalysis.qualityScore(cs.head))
    registerCol("token_count",
      "token_count(text) - whitespace token count; blank -> 0", 1)(
      cs => graft.ops.TextAnalysis.tokenCount(cs.head))
    register("nfc_normalize",
      "nfc_normalize(text) - Unicode NFC canonical composition") { args =>
      arity("nfc_normalize", args, 1)
      NfcNormalize(args.head)
    }
    registerCol("clean_text",
      "clean_text(text) - CRLF->LF, strip C0 controls and zero-width chars, NFC", 1)(
      cs => graft.ops.Curation.cleanText(cs.head))
    registerCol("fix_mojibake",
      "fix_mojibake(text) - repair UTF-8-as-Latin1/cp1252 double encoding (strict, conservative)", 1)(
      cs => graft.ops.Curation.fixMojibake(cs.head))
    registerCol("gopher_keep",
      "gopher_keep(text) - Gopher quality-rule conjunction (true = passes every rule)", 1)(
      cs => graft.ops.TextAnalysis.gopherRules(cs.head).getField("keep"))
    registerCol("strip_markup",
      "strip_markup(html) - HTML to text: drop script/style/comments/tags, decode entities", 1)(
      cs => graft.ops.Curation.stripMarkup(cs.head))
    registerCol("word_entropy",
      "word_entropy(text) - Shannon entropy (bits) of the word distribution, round-6", 1)(
      cs => graft.ops.TextAnalysis.wordEntropy(cs.head))
  }
}
