package perfbench

import graft.operators.{Dedup, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_ingest: a seed-chosen slice of the documents table streams
  * through `EventPipeline.corpusIngest` one parquet file per micro-batch;
  * the rest is the frozen corpus whose band index and dup-gram table are
  * built during set-up.
  */
object Ingest {
  /** Share of the documents table that streams in. */
  val streamShare = 0.1
  /** Micro-batches the slice is cut into (one source file each). */
  val batches = 2

  /** (corpus, streamed slice): the slice is the docs with the smallest
    * seeded hashes, a fixed-size draw that stays a narrow filter. Its
    * column `_f` cuts it by hash rank into [[batches]] parts of equal size,
    * so the seed picks the docs but not how many each micro-batch gets.
    */
  def split(spark: SparkSession, dir: String, seed: Long): (DataFrame, DataFrame) = {
    val all = Tables(spark, dir, "documents")
    val h = xxhash64(col("doc_id"), lit(seed))
    val n = math.round(all.count() * streamShare).toInt
    val hs = all.select(h).orderBy(h).limit(n).collect().map(_.getLong(0))
    val lastOf = (1 until batches).map(b => hs(b * n / batches - 1))
    val batch = lastOf.zipWithIndex.foldRight(lit(batches - 1)) {
      case ((last, b), rest) => when(h <= last, b).otherwise(rest)
    }
    (all.filter(h > hs.last), all.filter(h <= hs.last)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"), batch.as("_f")))
  }

  def bench(corpus: DataFrame): DataFrame =
    corpus.filter(pmod(col("doc_id"), lit(997)) === 1).select("doc_id", "text")

  def bandsTable(round: Int) = s"perfbench_bands_$round"
  def gramsTable(round: Int) = s"perfbench_grams_$round"

  /** Set-up step: the corpus band index and dup-gram table. */
  def buildIndex(spark: SparkSession, dir: String, seed: Long, round: Int): Map[String, Double] = {
    val (corpus, _) = split(spark, dir, seed)
    val t0 = System.nanoTime()
    Dedup.saveBandTable(corpus, "doc_id", "text", bandsTable(round))
    TextOps.saveDupGramTable(corpus, "doc_id", "text", gramsTable(round), k = 6)
    Map("index_build_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** Sizes and count of all regular files under `dir`. */
  def treeBytes(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).toSeq.flatten.map(treeBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
