package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kernel isolation pass: each graft kernel evaluated alone over a cached,
  * seed-generated input of fixed size. The time of a plain projection of
  * the same input is subtracted, so what is left is the kernel's own cost.
  */
object Kernels {
  final case class Timing(name: String, rows: Long, nsPerRow: Double)

  private val words = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "query", "a", "agg", "big", "filter",
    "key", "window", "stream", "join", "read", "write", "row", "data", "plan", "cache",
    "disk", "customer", "shuffle", "the", "of", "and", "to")

  /** (kernel, input columns, kernel expression, rows). */
  private def cases(m: Int, k: Int): Seq[(String, String, String, Long)] = {
    val lut = (for (s <- 0 until m; c <- 0 until k)
      yield s"named_struct('sub', $s, 'cid', ${c}L, 'd', ${(s * 31 + c * 17) % 97}L)")
      .mkString("array(", ",", ")")
    val vocab = words.take(24).sorted.map(w => s"'$w'").mkString("array(", ",", ")")
    Seq(
      ("graft_gopher_counts", "tokens", "graft_gopher_counts(tokens)", 10000L),
      ("graft_repetition_counts", "tokens", "graft_repetition_counts(tokens)", 10000L),
      ("graft_oov_count", "tokens", s"graft_oov_count(tokens, $vocab)", 10000L),
      ("graft_rolling_hash", "text", "graft_rolling_hash(text)", 10000L),
      ("graft_hash60", "text", "graft_hash60(text)", 50000L),
      ("graft_js_num", "num_str", "graft_js_num(num_str)", 50000L),
      ("graft_sqdist", "va, vb", "graft_sqdist(va, vb)", 50000L),
      ("graft_adc", "codes", s"graft_adc(codes, $lut)", 50000L),
      ("graft_might_contain", "key",
        "graft_might_contain((SELECT graft_bloom_agg(id, 4096L, 65536L) FROM range(4096)), key)",
        50000L))
  }

  private def input(spark: SparkSession, rows: Long, seed: Long, m: Int, k: Int): DataFrame = {
    val vocab = words.map(w => s"'$w'").mkString("array(", ",", ")")
    spark.range(0, rows, 1, 1).selectExpr(
      s"transform(sequence(1, 20 + CAST(pmod(xxhash64(id, $seed), 40) AS INT)), " +
        s"i -> element_at($vocab, CAST(pmod(xxhash64(id, i, $seed), ${words.size}) AS INT) + 1)) AS tokens",
      s"CAST(pmod(xxhash64(id, $seed, 1), 1000000) / 100.0 AS STRING) AS num_str",
      s"transform(sequence(1, 16), i -> pmod(xxhash64(id, i, $seed, 2), 2001) - 1000) AS va",
      s"transform(sequence(1, 16), i -> pmod(xxhash64(id, i, $seed, 3), 2001) - 1000) AS vb",
      s"transform(sequence(1, $m), i -> pmod(xxhash64(id, i, $seed, 4), $k)) AS codes",
      s"pmod(xxhash64(id, $seed, 5), 8192) AS key")
      .selectExpr("*", "array_join(tokens, ' ') AS text")
  }

  /** Median wall of `reps` noop writes of `exprs` over `df`, in ns. */
  private def timeProjection(df: DataFrame, exprs: Seq[String], reps: Int): Long = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.selectExpr(exprs: _*)
        .write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }.sorted
    runs(runs.size / 2)
  }

  def run(spark: SparkSession, seed: Long, reps: Int = 3): Seq[Timing] = {
    val (m, k) = (8, 16)
    val inputs = cases(m, k).map(_._4).distinct.map { rows =>
      val df = input(spark, rows, seed, m, k).cache()
      df.write.format("noop").mode("overwrite").save()
      rows -> df
    }.toMap
    try cases(m, k).map { case (name, cols, kernel, rows) =>
      val df = inputs(rows)
      val plain = cols.split(",").map(_.trim).toSeq
      val base = timeProjection(df, plain, reps)
      val withKernel = timeProjection(df, Seq(kernel), reps)
      Timing(name, rows, (withKernel - base).toDouble / rows)
    } finally inputs.values.foreach(_.unpersist(blocking = true))
  }
}
