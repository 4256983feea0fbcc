package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.PageCorpus

/** Output checks on the 11 tables `ConvoyPipeline.write` leaves in a
  * directory: row counts and per-tweet `ur_conversation_id`,
  * `descendants` and `max_depth` against the generator's model, and
  * canonical table hashes (`PageCorpus.tableHash`: row count plus a
  * wrap-around sum of row hashes) to compare one run with another. */
object Check {

  val Outputs: Seq[String] = Seq("conversation_ids", "tweets_i", "users_a",
    "tweet_hashtags_a", "tweet_urls_a", "tweet_mentions_a", "tweet_stats_i",
    "tweets_a", "conversations_a", "ur_conversations_a", "_quarantine")

  // the id list is a text sink; read it back as the long column it was
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "conversation_ids")
      spark.read.text(s"$dir/$name").select(col("value").cast("long").as("conversation_id"))
    else spark.read.parquet(s"$dir/$name")

  def hashes(spark: SparkSession, dir: String): Map[String, (Long, Long)] =
    Outputs.map(n => n -> PageCorpus.tableHash(read(spark, dir, n))).toMap

  /** Row counts of all outputs, in one job. */
  def counts(spark: SparkSession, dir: String): Map[String, Long] = {
    val got = Outputs.map(n => read(spark, dir, n).select(lit(n).as("table")))
      .reduce(_ union _).groupBy("table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Outputs.map(n => n -> got.getOrElse(n, 0L)).toMap
  }

  /** (tweet_id, ur_conversation_id, descendants, max_depth) per real tweet. */
  def expected(spark: SparkSession, m: Corpus.Model): DataFrame = {
    import spark.implicits._
    m.tweetIds.indices
      .map(i => (m.tweetIds(i), m.urIds(i), m.descendants(i), m.maxDepth(i)))
      .toDF("tweet_id", "e_ur", "e_descendants", "e_max_depth").cache()
  }

  /** Every disagreement with the model, as readable lines. */
  def againstModel(spark: SparkSession, dir: String, m: Corpus.Model,
                   expected: DataFrame, got: Map[String, Long]): Seq[String] = {
    val counts = Outputs.flatMap { n =>
      val want = m.expectedRows(n)
      if (got(n) == want) None else Some(s"$n: ${got(n)} rows, model says $want")
    }
    val tweets = read(spark, dir, "tweets_i").where(col("conversation_id").isNotNull)
      .select("tweet_id", "ur_conversation_id")
    val stats = read(spark, dir, "tweet_stats_i").select("tweet_id", "descendants", "max_depth")
    val bad = tweets.join(stats, Seq("tweet_id"), "full_outer")
      .join(expected, Seq("tweet_id"), "full_outer")
      .where(!(col("ur_conversation_id") <=> col("e_ur")) ||
        !(col("descendants") <=> col("e_descendants")) ||
        !(col("max_depth") <=> col("e_max_depth")))
      .count()
    counts ++ (if (bad == 0) Nil else Seq(s"$bad tweets disagree with the model on " +
      "ur_conversation_id, descendants or max_depth"))
  }

  /** Data files (parquet parts and text parts) and their bytes. */
  def files(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val parts = walk(new File(dir)).filter(_.getName.startsWith("part-"))
    (parts.size.toLong, parts.map(_.length).sum)
  }
}
