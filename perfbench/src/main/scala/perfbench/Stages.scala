package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.Closure
import graft.ingest.Ingest
import graft.mart.Mart
import graft.pipeline.ConvoyPipeline
import graft.stats.{TreeInput, TreeStats}

/** `ConvoyPipeline.run` rebuilt from the engine's public stage functions,
  * in the same order, with each stage under its own span and its outputs
  * forced by a `noop` write. DataFrames are lazy, so a span also pays for
  * re-running the upstream scans its outputs depend on: spans are marginal,
  * not exclusive. The glue below must stay identical to `run`; the
  * `StagesSpec` test compares the two output for output.
  */
object Stages {

  def run(spark: SparkSession, originalPaths: Seq[String], expansionPaths: Seq[String],
          span: Tracer): ConvoyPipeline.Outputs = {
    import spark.implicits._

    val loaded = span("ingest") {
      val l = Ingest.load(spark, originalPaths, expansionPaths)
      Seq(l.tweets, l.users, l.hashtags, l.urls, l.mentions, l.corrupt).foreach(Tracer.force)
      l
    }
    val tweets = loaded.tweets

    val withUr = span("closure") {
      val edges = ConvoyPipeline.conversationEdges(tweets)
      val w = Closure.enrich(tweets.drop("ur_conversation_id"), edges, "conversation_id")
      Tracer.force(w)
      w
    }

    val tweetStats = span("treestats") {
      val statsInput = withUr.where(col("ur_conversation_id").isNotNull).select(
        col("tweet_id"), coalesce(col("author_id"), lit(-1L)).as("author_id"),
        col("in_reply_to"), col("retweet_of"), col("quotes"),
        coalesce(col("reply_count"), lit(0L)).as("reply_count"),
        coalesce(col("quote_count"), lit(0L)).as("quote_count"),
        coalesce(col("like_count"), lit(0L)).as("like_count"),
        coalesce(col("retweet_count"), lit(0L)).as("retweet_count"),
        col("ur_conversation_id").as("group_id")).as[TreeInput]
      val s = TreeStats.compute(statsInput).toDF()
      Tracer.force(s)
      s
    }

    span("mart") {
      val conversationIds = tweets
        .where(col("reply_count") > 0)
        .groupBy(col("conversation_id")).agg(sum(col("reply_count")).as("replies"))
        .select(col("conversation_id"))
      val wide = Mart.tweetsWide(withUr, tweetStats)
      val conversations = Mart.conversationRollup(withUr, "conversation_id")
      val urConversations = Mart.conversationRollup(withUr, "ur_conversation_id")
      Seq(conversationIds, wide, conversations, urConversations).foreach(Tracer.force)
      ConvoyPipeline.Outputs(conversationIds, withUr, loaded.users, loaded.hashtags,
        loaded.urls, loaded.mentions, tweetStats, wide, conversations,
        urConversations, loaded.corrupt)
    }
  }
}
