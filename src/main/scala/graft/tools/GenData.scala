package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator for scale runs.
  *
  * Reproduces the driver testdata schema (TESTDATA.md: TPC-H-ish star
  * schema + events/documents/embeddings) at arbitrary scale factors so
  * the engine's 100 TB design claims can be EXECUTED, not just
  * plan-asserted. /root/testdata is read-only and tops out at sf0.1;
  * this writes sfN under a new directory (default `data/sf10`).
  *
  * Scale shape: every column is a pure expression of `spark.range`'s
  * `id` (xxhash64-keyed pseudo-randomness) — generation is narrow,
  * zero-shuffle, embarrassingly parallel, and byte-identical across
  * partitionings and cluster sizes. No RNG state, no driver loops.
  * Value ranges mirror the sf0.1 tables (same columns, types, domains)
  * so every SparkEntry query runs unchanged against the output.
  *
  * The documents table plants duplicates on purpose: ~5% exact copies
  * and ~5% near-copies (one appended word) of a nearby lower doc_id, so
  * the dedup battery has real recall work at every sf.
  */
object GenData {
  // row counts at sf0.1 (TESTDATA.md); other sfs scale linearly
  private val baseRows = Map(
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  private def h(salt: Int, idCol: String = "id") = expr(s"xxhash64($idCol, $salt)")
  private def pm(salt: Int, n: Long) = expr(s"pmod(xxhash64(id, $salt), ${n}L)")

  private val vocab = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "query", "a", "agg",
    "big", "filter", "key", "window", "stream", "join", "read", "write",
    "row", "data", "plan", "cache", "disk", "customer", "shuffle")

  def gen(spark: SparkSession, dir: String, sf: Double): Map[String, Long] = {
    def n(t: String): Long = math.max(1L, math.round(baseRows(t) * sf / 0.1))
    def parts(rows: Long): Int = math.max(1, math.min(64, (rows / 1000000L).toInt + 1))
    val custN = n("customer"); val suppN = n("supplier"); val partN = n("part")
    val ordN = n("orders"); val liN = n("lineitem"); val evN = n("events")
    val docN = n("documents"); val embN = n("embeddings")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write(spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      expr("element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id AS INT) + 1)")
        .as("r_name")), "region")

    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")), "nation")

    write(spark.range(0, custN, 1, parts(custN)).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pm(1, 25).cast("int").as("c_nationkey"),
      (pm(2, 1100000L) / 100.0 - 1000.0).as("c_acctbal"),
      expr("element_at(array('FURNITURE','MACHINERY','AUTOMOBILE','BUILDING','HOUSEHOLD'), " +
        "CAST(pmod(xxhash64(id, 3), 5) AS INT) + 1)").as("c_mktsegment")), "customer")

    write(spark.range(0, suppN, 1, parts(suppN)).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pm(4, 25).cast("int").as("s_nationkey"),
      (pm(5, 1000000L) / 100.0).as("s_acctbal")), "supplier")

    write(spark.range(0, partN, 1, parts(partN)).select(
      col("id").as("p_partkey"),
      expr("concat(element_at(array('large','hot','blue','green','small','red','dim','bright'), " +
        "CAST(pmod(xxhash64(id, 6), 8) AS INT) + 1), ' ', " +
        "element_at(array('ring','bolt','washer','gear','spring','plate','rod','cap'), " +
        "CAST(pmod(xxhash64(id, 7), 8) AS INT) + 1))").as("p_name"),
      concat(lit("Brand#"), (pm(8, 25) + 1)).as("p_brand"),
      expr("element_at(array('ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD'), " +
        "CAST(pmod(xxhash64(id, 9), 6) AS INT) + 1)").as("p_type"),
      (pm(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(100000L)) / 10.0).as("p_retailprice")), "part")

    write(spark.range(0, ordN, 1, parts(ordN)).select(
      col("id").as("o_orderkey"),
      pm(11, custN).as("o_custkey"),
      expr("element_at(array('O','F','P'), CAST(pmod(xxhash64(id, 12), 3) AS INT) + 1)")
        .as("o_orderstatus"),
      (pm(13, 49900000L) / 100.0 + 1000.0).as("o_totalprice"),
      expr("timestampadd(DAY, CAST(pmod(xxhash64(id, 14), 2400) AS INT), TIMESTAMP'1995-01-01 00:00:00')")
        .as("o_orderdate"),
      expr("element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        "CAST(pmod(xxhash64(id, 15), 5) AS INT) + 1)").as("o_orderpriority")), "orders")

    write(spark.range(0, liN, 1, parts(liN)).select(
      pm(16, ordN).as("l_orderkey"),
      pm(17, partN).as("l_partkey"),
      pm(18, suppN).as("l_suppkey"),
      (pm(19, 7) + 1).cast("int").as("l_linenumber"),
      (pm(20, 50) + 1).cast("double").as("l_quantity"),
      (pm(21, 10410000L) / 100.0 + 900.0).as("l_extendedprice"),
      (pm(22, 11) / 100.0).as("l_discount"),
      (pm(23, 9) / 100.0).as("l_tax"),
      expr("element_at(array('N','A','R'), CAST(pmod(xxhash64(id, 24), 3) AS INT) + 1)")
        .as("l_returnflag"),
      expr("element_at(array('O','F'), CAST(pmod(xxhash64(id, 25), 2) AS INT) + 1)")
        .as("l_linestatus"),
      expr("timestampadd(DAY, CAST(pmod(xxhash64(id, 26), 2500) AS INT), TIMESTAMP'1995-01-01 00:00:00')")
        .as("l_shipdate")), "lineitem")

    // events: ts written as microsecond TIMESTAMP_NTZ — the same parquet
    // encoding as the driver testdata (timestamp[us], isAdjustedToUTC=
    // false), so Tables.events takes the identical read path on both.
    // Monotone-ish in event_id: N events spread over 30 days + jitter.
    val usSpan = 30L * 86400L * 1000000L
    val userN = math.max(20L, evN / 50L)
    write(spark.range(0, evN, 1, parts(evN)).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + col("id") * lit(usSpan / math.max(1L, evN)) +
        pm(27, 1000000L)).cast("timestamp_ntz").as("ts"),
      pm(28, userN).as("user_id"),
      expr("element_at(array('error','view','signup','purchase','click'), " +
        "CAST(pmod(xxhash64(id, 29), 5) AS INT) + 1)").as("event_type"),
      (pm(30, 20000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), pm(31, 100), lit("}")).as("props")), "events")

    // documents: word sequences over a fixed vocab; ~5% exact and ~5%
    // near (one extra word) copies of a nearby lower doc_id
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.range(0, docN, 1, parts(docN))
      .withColumn("dupsel", pm(32, 20))
      // seed doc whose text this row reproduces (self when not a dup).
      // A candidate seed that is ITSELF a dup row stores text derived
      // from its own seed, so copying it would plant a copy of nothing —
      // re-derive the candidate's dupsel and fall back to self.
      .withColumn("cand", expr("id - 1 - pmod(xxhash64(id, 33), 50)"))
      .withColumn("seed", expr(
        "IF(dupsel <= 1 AND id > 50 AND pmod(xxhash64(cand, 32), 20) > 1, cand, id)"))
      .withColumn("nwords", expr("15 + pmod(xxhash64(seed, 34), 46)"))
      .withColumn("body", expr(
        s"array_join(transform(sequence(1, CAST(nwords AS INT)), " +
          s"i -> element_at($vocabArr, CAST(pmod(xxhash64(seed, i), ${vocab.size}) AS INT) + 1)), ' ')"))
      .withColumn("text", expr(
        s"IF(dupsel = 1, concat(body, ' ', element_at($vocabArr, " +
          s"CAST(pmod(xxhash64(id, 35), ${vocab.size}) AS INT) + 1)), body)"))
      .select(
        col("id").as("doc_id"), col("text"),
        expr("element_at(array('en','zh','fr','es','de'), CAST(pmod(xxhash64(id, 36), 5) AS INT) + 1)")
          .as("lang"),
        concat(lit("src"), pm(37, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    write(docs, "documents")

    // embeddings: 10 Gaussian-ish clusters — center(label, dim) ± noise(id, dim)
    write(spark.range(0, embN, 1, parts(embN))
      .withColumn("label", pm(38, 10).cast("int"))
      .select(
        col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> CAST(" +
          "(pmod(xxhash64(label, j + 1000), 2001) - 1000) / 2000.0 + " +
          "(pmod(xxhash64(id, j + 2000), 201) - 100) / 1000.0 AS FLOAT))").as("embedding"),
        col("label")), "embeddings")

    Map("customer" -> custN, "supplier" -> suppN, "part" -> partN,
      "orders" -> ordN, "lineitem" -> liN, "events" -> evN,
      "documents" -> docN, "embeddings" -> embN, "nation" -> 25L, "region" -> 5L)
  }

  def main(args: Array[String]): Unit = {
    val sfStr = sys.env.getOrElse("SPARK_GRAFT_GEN_SF", "10")
    val sf = sfStr.toDouble
    // default dir uses the RAW env string ("data/sf10", not "data/sf10.0")
    // so GenData and ScaleProbe defaults agree
    val dir = sys.env.getOrElse("SPARK_GRAFT_GEN_DIR", s"data/sf$sfStr")
    val spark = graft.GraftSession.get("graft-gen")
    val t0 = System.nanoTime()
    val counts = gen(spark, dir, sf)
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"""{"gen_dir":"$dir","sf":$sf,"seconds":${math.round(secs * 10) / 10.0},""" +
      counts.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }.mkString("\"rows\":{", ",", "}}"))
    spark.stop()
  }
}
