package graft.ops

import org.apache.spark.sql.DataFrame

/** Scan-parallelism floor for CPU-heavy narrow passes over SMALL
  * inputs (optimization guide §2.5, "input skew / one huge
  * unsplittable file": repartition immediately after the read).
  *
  * Why it exists: a parquet file is splittable only down to its row
  * groups — a small table written as one row group reads as ONE task
  * no matter the split config, which single-threads every downstream
  * narrow kernel (shingle hashing, term counting, media decode) until
  * the first exchange. The profiled LSH signature pass at sf0.1 ran
  * its whole corpus on 1 of 32 cores for exactly this reason.
  *
  * Shape: when the input's HONEST size estimate (optimized-plan stats
  * = file bytes for a scan, the [[Dedup.corpusFitsBroadcast]]
  * discipline) is at most `graft.widen.maxInputBytes` (default
  * 256 MB), round-robin repartition to defaultParallelism. Above the
  * budget the input is left alone — a 100 TB corpus already carries
  * thousands of row groups and must never be blanket-reshuffled, so this is
  * size-adaptive, not a local-mode constant: on ANY cluster,
  * repartitioning ≤256 MB costs well under a second and guarantees a
  * CPU-bound kernel uses the cores. Results are row-set identical
  * (round-robin repartition only changes physical placement; Spark's
  * sort-before-repartition keeps the placement deterministic under
  * retries).
  *
  * Callers should PROJECT to the needed columns first (guide §2.3 —
  * shuffle only the bytes the kernel reads). Set
  * `graft.widen.maxInputBytes=0` to disable (A/B seam). */
object Widen {

  /** Tolerant conf parse: a malformed `graft.widen.maxInputBytes` must
    * not crash a query path — unparseable falls back to the default
    * (widen enabled at the documented budget), loudly. */
  private def maxInputBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.widen.maxInputBytes").map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft.widen.maxInputBytes='$v' is not a long; using default")
          256L << 20
      }
    }.getOrElse(256L << 20)

  /** Parallelism floor for frames whose per-ROW cost dominates their
    * byte size (media decode, codec synthesis): a narrow id/key frame
    * is ~free to shuffle at any scale, while leaving it at the scan's
    * partitioning single-threads minutes of decode CPU behind a
    * single-row-group file. Round-robin to defaultParallelism;
    * `graft.widen.maxInputBytes=0` disables it.
    *
    * The size budget applies HERE too (r20 ADVICE: this path used to
    * repartition unconditionally — fine for today's 8 B/row id frames,
    * but a future caller passing a wide frame would pay a silent full
    * exchange): inputs whose honest plan estimate exceeds the budget
    * are left alone. */
  def forHeavyRows(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val maxBytes = maxInputBytes(spark)
    if (maxBytes <= 0) df
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes > maxBytes) df
    else df.repartition(spark.sparkContext.defaultParallelism)
  }
}
