package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-corpus synthesis: builds a documents table `mult` times the
  * size of an sf directory's, for the scale keys of [[graft.Bench]] and
  * the benchmark's corpus workload. The operator timings measured on it
  * are in BASELINE.md ("Scale rehearsal").
  *
  * Corpus synthesis is NOT naive replication: 10 identical copies would
  * plant 10-way near-dup cliques (a quadratic pair blowup with no
  * real-corpus analogue). Each copy c>0 instead appends a per-copy
  * `translate`-scrambled copy of the doc's own text — cross-copy
  * jaccard lands ~1/3 (below the 0.6 dedup threshold), while docs that
  * were near-dups WITHIN a copy stay near-dups (same transform on both
  * sides). The result approximates a genuinely larger corpus with the
  * same internal dup rate.
  */
object ScaleRehearsal {

  // Per-copy letter substitutions for the scrambled suffix (targets the
  // letters the synthetic corpus actually uses). Two independent cycles
  // give distinct transforms for c < 676 — a shared transform between
  // two copies would plant cross-copy EXACT dup cliques (observed at
  // mult=30 with a 10-entry table: copies c/c+10/c+20 collided and 2/3
  // of the corpus became droppable duplicates).
  private val Target1 = "aeiosth"
  private val Target2 = "nrdlcmp"
  private def perm(target: String, k: Int): String =
    target.indices.map(i => ('a' + (i * 3 + k * 5 + 7) % 26).toChar).mkString

  private def scramble(c: Column, copy: Int) =
    translate(translate(c, Target1, perm(Target1, copy % 26)),
      Target2, perm(Target2, copy / 26))

  /** Synthesize the mult-x documents table (the corpus-synthesis rules
    * documented above: per-copy scrambled suffixes keep cross-copy
    * jaccard below the dedup threshold, so the dup rate matches a
    * genuinely larger corpus) and write it to `outDir/documents.parquet`.
    * Shared by [[graft.Bench]]'s x10 scaling keys and the benchmark's
    * corpus workload, so both measure the SAME synthetic corpus shape. */
  def synthesizeDocs(spark: SparkSession, sfDir: String, outDir: String,
      mult: Int): Unit = {
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until mult).map { c =>
      val shifted = docs0.withColumn("doc_id", col("doc_id") + lit(c.toLong << 24))
      if (c == 0) shifted
      else shifted.withColumn("text",
        concat(col("text"), lit(" "), scramble(col("text"), c)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }
}
