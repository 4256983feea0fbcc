package graft.ingest

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.SparkSuite

/** End-to-end ingest over the committed JSONL fixture, asserting every
  * edge case from FIXTURES.md B1 (corrupt line, URL rewrite, reply+quote
  * demux, first-wins dedup across original/expansion, error-row
  * synthesis, empty-string → NULL, mention-error resolution).
  */
class IngestSpec extends SparkSuite {

  private lazy val loaded = Ingest.load(spark,
    originalPaths = Seq(resource("pages_original.jsonl")),
    expansionPaths = Seq(resource("pages_expansion.jsonl")))

  private def tweet(id: Long): Row =
    loaded.tweets.where(s"tweet_id = $id").collect().head

  private def user(id: Long): Row =
    loaded.users.where(s"user_id = $id").collect().head

  test("corrupt line is quarantined, not fatal") {
    assert(loaded.corrupt.count() == 1)
  }

  test("all tweets land exactly once (first-wins PK dedup)") {
    val ids = loaded.tweets.select("tweet_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(50L, 100L, 101L, 102L, 103L, 200L, 999L))
  }

  test("duplicate within original keeps first file version") {
    assert(tweet(100).getAs[String]("text") == "root tweet about convoys")
    assert(tweet(100).getAs[Long]("retweet_count") == 5)
  }

  test("original beats expansion for duplicate tweet ids") {
    assert(tweet(101).getAs[String]("text").startsWith("reply with link"))
    assert(tweet(101).getAs[Boolean]("original"))
  }

  test("t.co url is rewritten to its expansion inside text") {
    assert(tweet(101).getAs[String]("text")
      == "reply with link https://example.com/article #tag1")
  }

  test("url without expansion is kept and not rewritten") {
    assert(tweet(103).getAs[String]("text") == "plain url only https://t.co/xyz")
    assert(tweet(103).getAs[Int]("urls") == 1)
  }

  test("reply-that-also-quotes sets both parent columns") {
    val t = tweet(102)
    assert(t.getAs[Long]("in_reply_to") == 100L)
    assert(t.getAs[Long]("quotes") == 50L)
    assert(t.getAs[Long]("in_reply_to_user_id") == 1L)
  }

  test("retweet demux") {
    assert(tweet(200).getAs[Long]("retweet_of") == 100L)
    assert(!tweet(200).getAs[Boolean]("original"))
  }

  test("entity-list lengths on the main table") {
    val t = tweet(101)
    assert(t.getAs[Int]("hashtags") == 2)
    assert(t.getAs[Int]("urls") == 1)
    assert(t.getAs[Int]("mentions") == 1)
    assert(tweet(50).isNullAt(tweet(50).fieldIndex("hashtags")))
  }

  test("tweet error rows synthesized; real tweet wins over error row") {
    val e = tweet(999)
    assert(e.getAs[String]("error") == "Not Found Error")
    assert(e.isNullAt(e.fieldIndex("author_id")))
    // id=50 exists both as real (includes.tweets) and as error → real wins
    assert(tweet(50).getAs[String]("error") == null)
    assert(tweet(50).getAs[String]("text") == "quoted source, no entities")
  }

  test("entity child tables accumulate from all copies, pair-deduped") {
    val tags = loaded.hashtags.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // tag1/tag2 from the original 101, tag3 from the expansion duplicate
    assert(tags == Set((101L, "tag1"), (101L, "tag2"), (101L, "tag3")))
    val mentions = loaded.mentions.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mentions == Set((101L, 1L)))
    val urls = loaded.urls.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(urls == Set((101L, "https://example.com/article"), (103L, "https://t.co/xyz")))
  }

  test("users: empty strings become NULL") {
    val b = user(2)
    assert(b.getAs[String]("name") == "Bob")
    assert(b.isNullAt(b.fieldIndex("description")))
    assert(b.isNullAt(b.fieldIndex("url")))
    assert(b.isNullAt(b.fieldIndex("location")))
  }

  test("user url entities rewrite url and description") {
    val a = user(1)
    assert(a.getAs[String]("url") == "https://alice.example.com")
    assert(a.getAs[String]("description") == "news fan https://alice.example.com")
  }

  test("user error rows: in_reply_to_user_id direct, mention resolved via map, ghost dropped") {
    assert(user(77).getAs[String]("error") == "Not Found Error")
    // alice's mention error resolves to id 1, but the real alice row wins
    assert(user(1).getAs[String]("error") == null)
    val ids = loaded.users.select("user_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 5L, 77L)) // no ghost row
  }

  test("constructing the ingest submits no job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ingest-load") => jobs.incrementAndGet()
          case Some("ingest-sentinel") => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ingest-load", "Ingest.load construction")
      try Ingest.load(spark, Seq(resource("pages_original.jsonl")),
        Seq(resource("pages_expansion.jsonl")))
      finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the sentinel's
      // start arrives, every job started during construction is counted
      sc.setJobGroup("ingest-sentinel", "listener bus drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS))
      assert(jobs.get() == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("duplicate key within ONE file keeps the first occurrence, even across splits") {
    // 200 pages in one file, every page re-asserting tweet_id=1 with a
    // different text; page 0 holds two copies (array order). The winner
    // must be the file's first occurrence — "v0a" — on every run, even
    // when the file is chopped into many scan splits.
    def page(texts: Seq[String]): String = {
      val tweets = texts.map(t =>
        s"""{"id": "1", "conversation_id": "1", "author_id": "1", "text": "$t"}""")
      s"""{"data": [${tweets.mkString(", ")}], "meta": {}}"""
    }
    val lines = page(Seq("v0a", "v0b")) +: (1 until 200).map(i => page(Seq(s"v${i}")))
    val f = java.nio.file.Files.createTempFile("dupes", ".jsonl")
    java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      for (_ <- 1 to 3) {
        val t = Ingest.load(spark, Seq(f.toString)).tweets
          .where("tweet_id = 1").collect()
        assert(t.length == 1)
        assert(t.head.getAs[String]("text") == "v0a")
      }
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevCost)
    }
  }

  test("ingest is idempotent: loading the same file twice equals once (INSERT IGNORE contract)") {
    val twice = Ingest.load(spark,
      Seq(resource("pages_original.jsonl"), resource("pages_original.jsonl")))
    val once = Ingest.load(spark, Seq(resource("pages_original.jsonl")))
    assert(twice.tweets.count() == once.tweets.count())
    assert(twice.users.count() == once.users.count())
    assert(twice.hashtags.count() == once.hashtags.count())
  }
}
