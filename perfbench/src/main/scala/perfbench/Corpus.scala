package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

/** Seeded JSONL page-corpus generator for the pipeline workloads.
  *
  * Writes the Twitter API v2 page shape that `graft.ingest.Ingest.pageSchema`
  * reads (`data[]`, `includes.tweets[]/users[]`, `errors[]`, `meta`), with
  * the same page features and rates as `graft.tools.PageCorpus`: 8 original
  * and 4 expansion files of 120-tweet pages, cross-page `includes` copies,
  * every 6th original tweet re-fetched with drifted counts, late replies in
  * the expansion files, all three error kinds (every 17th page), and a
  * corrupt line after every 23rd page.
  *
  * Only the conversation shape differs between the two workloads:
  *  - `forest`: conversations of 1-50 tweets with random reply parents; a
  *    third of roots quote or retweet an earlier tweet; 1 reply in 66 also
  *    retweets an earlier tweet.
  *  - `viral`: about 1k conversations. The first holds ~40% of the tweets,
  *    half of them one reply chain. Every later root quotes the previous
  *    root, so all conversations form one quote chain and one ur-group.
  *
  * Besides the files, the generator keeps its own model of what the
  * pipeline must produce: row counts for all 11 outputs and, per tweet,
  * `ur_conversation_id`, `descendants` and `max_depth`.
  */
object Corpus {

  final class Tweet(val id: Long, val conv: Long, val author: Long,
                    val replyTo: Tweet, val quoted: Tweet, val retweeted: Tweet,
                    val tags: Seq[String], val mention: Long, val withUrl: Boolean,
                    val original: Boolean) {
    var replies = 0L // direct reply children among original tweets
  }

  /** What one generated corpus holds and what the pipeline must make of it. */
  final case class Model(
      originalPaths: Seq[String], expansionPaths: Seq[String],
      jsonlBytes: Long, tweetRecords: Long,
      expectedRows: Map[String, Long],
      // per real tweet: id, ur_conversation_id, descendants, max_depth
      tweetIds: Array[Long], urIds: Array[Long], descendants: Array[Long],
      maxDepth: Array[Long],
      properties: Seq[(String, Double)],
      edges: Long, largestGroup: Long)

  val OrigFiles = 8
  val ExpFiles = 4
  val PageSize = 120
  private val FirstTweetId = 1000001L
  private val ErrorTweetBase = 9000000000L // error placeholder ids never collide

  def generate(workload: String, seed: Long, scale: Int, dir: String): Model = {
    require(workload == "forest" || workload == "viral", s"unknown workload $workload")
    val rnd = new Random(seed)
    val nUsers = math.max(500, scale / 20)
    val tweets = mutable.ArrayBuffer.empty[Tweet]
    var nextId = FirstTweetId

    def randomEarlier(): Tweet = tweets(rnd.nextInt(tweets.size))
    def newTweet(conv: Long, replyTo: Tweet, quoted: Tweet, retweeted: Tweet,
                 original: Boolean = true): Tweet = {
      val id = nextId; nextId += 1
      val author = 1 + rnd.nextInt(nUsers).toLong
      val tags =
        if (rnd.nextInt(4) == 0) Seq(s"h${rnd.nextInt(50)}", s"h${rnd.nextInt(50)}").distinct
        else if (rnd.nextInt(3) == 0) Seq(s"h${rnd.nextInt(50)}") else Nil
      val mention = if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(nUsers).toLong else -1L
      val t = new Tweet(id, conv, author, replyTo, quoted, retweeted, tags, mention,
        withUrl = rnd.nextInt(4) == 0, original)
      if (replyTo != null && original) replyTo.replies += 1
      tweets += t
      t
    }
    def reply(conv: Long, parent: Tweet): Tweet = {
      val alsoRt = if (tweets.nonEmpty && rnd.nextInt(66) == 0) randomEarlier() else null
      newTweet(conv, parent, null, alsoRt)
    }
    def conversation(size: Int, quoted: Tweet, retweeted: Tweet): Tweet = {
      val root = newTweet(nextId, null, quoted, retweeted)
      val members = mutable.ArrayBuffer(root)
      for (_ <- 0 until size) members += reply(root.id, members(rnd.nextInt(members.size)))
      root
    }

    val nOriginal = (scale * 0.88).toInt
    workload match {
      case "forest" =>
        while (tweets.size < nOriginal) {
          val link = if (tweets.nonEmpty && rnd.nextInt(3) == 0) randomEarlier() else null
          if (rnd.nextBoolean()) conversation(rnd.nextInt(50), link, null)
          else conversation(rnd.nextInt(50), null, link)
        }
      case "viral" =>
        val giant = (scale * 0.4).toInt
        val root = newTweet(nextId, null, null, null)
        val members = mutable.ArrayBuffer(root)
        var tip = root
        for (_ <- 1 until giant / 2) { tip = reply(root.id, tip); members += tip }
        while (members.size < giant) members += reply(root.id, members(rnd.nextInt(members.size)))
        val nConv = 1000
        // reply counts uniform in [0, k): conversations average (k + 1) / 2
        val k = math.max(1, math.round(2.0 * (nOriginal - giant) / (nConv - 1) - 1).toInt)
        var prevRoot = root
        for (_ <- 1 until nConv) prevRoot = conversation(rnd.nextInt(k), prevRoot, null)
    }
    val originals = tweets.toIndexedSeq
    val late = (0 until (scale * 0.12).toInt).map { _ =>
      val p = originals(rnd.nextInt(originals.size))
      newTweet(p.conv, p, null, null, original = false)
    }
    val refetch = originals.indices.collect { case i if i % 6 == 0 => originals(i) }

    // ── serialize pages, tracking what ingest will see ─────────────────
    Files.createDirectories(Paths.get(dir))
    val userIds = mutable.HashSet.empty[Long]
    val errorUserIds = mutable.HashSet.empty[Long]
    val mentionErrorNames = mutable.ArrayBuffer.empty[Long]
    val errorTweetIds = mutable.HashSet.empty[Long]
    var tweetRecords = 0L
    var corrupt = 0L
    var pages = 0L
    var pageNo = 0
    var bytes = 0L

    def writeFiles(prefix: String, nFiles: Int, ts: Seq[Tweet], drifted: Boolean): Seq[String] = {
      val grouped = ts.grouped(PageSize).toIndexedSeq
      val perFile = (grouped.size + nFiles - 1) / nFiles
      (0 until nFiles).map { f =>
        val sb = new StringBuilder(1 << 20)
        for (page <- grouped.slice(f * perFile, (f + 1) * perFile)) {
          pageNo += 1; pages += 1
          val inc = page.flatMap(t => Seq(t.replyTo, t.quoted, t.retweeted))
            .filter(_ != null).distinct.take(5)
          val users = (page.map(_.author) ++ inc.map(_.author) ++
            page.filter(_.mention > 0).map(_.mention)).distinct
          userIds ++= users
          tweetRecords += page.size + inc.size
          val errors = pageNo % 17 match {
            case 3 =>
              val id = ErrorTweetBase + pageNo
              errorTweetIds += id; tweetRecords += 1
              Seq(s"""{"resource_type": "tweet", "resource_id": "$id", "parameter": "ids", "title": "Not Found Error", "detail": "Could not find tweet with ids: [$id]."}""")
            case 8 =>
              val u = 1L + pageNo % nUsers
              errorUserIds += u
              Seq(s"""{"resource_type": "user", "resource_id": "$u", "parameter": "in_reply_to_user_id", "title": "Forbidden", "detail": "User has been suspended."}""")
            case 12 =>
              val u = 1L + pageNo % nUsers
              mentionErrorNames += u
              Seq(s"""{"resource_type": "user", "resource_id": "u$u", "parameter": "entities.mentions.username", "title": "Not Found Error", "detail": "Could not find user with usernames: [u$u]."}""")
            case _ => Nil
          }
          pageJson(sb, page, inc, users, errors, pageNo, drifted)
          sb ++= "\n"
          if (pageNo % 23 == 11) { sb ++= s"corrupt page $pageNo {{{not json\n"; corrupt += 1 }
        }
        val path = s"$dir/${prefix}_$f.jsonl"
        val out = sb.toString.getBytes(StandardCharsets.UTF_8)
        Files.write(Paths.get(path), out)
        bytes += out.length
        path
      }
    }
    val origPaths = writeFiles("pages_orig", OrigFiles, originals, drifted = false)
    val expPaths = writeFiles("pages_exp", ExpFiles, refetch ++ late, drifted = true)

    // ── the model: what the pipeline must produce ──────────────────────
    val all = tweets.toIndexedSeq
    // conversation parent edges, as ConvoyPipeline.conversationEdges
    // defines them: quote edges from non-replies win over retweet edges,
    // then the smallest parent conversation; self edges are dropped
    val best = mutable.HashMap.empty[Long, (Int, Long)]
    def offer(conv: Long, prio: Int, parent: Long): Unit =
      if (parent != conv) best.get(conv) match {
        case Some(cur) if Ordering[(Int, Long)].lteq(cur, (prio, parent)) =>
        case _ => best(conv) = (prio, parent)
      }
    all.foreach { t =>
      if (t.quoted != null && t.replyTo == null) offer(t.conv, 0, t.quoted.conv)
      if (t.retweeted != null) offer(t.conv, 1, t.retweeted.conv)
    }
    val parentOf = best.view.mapValues(_._2).toMap
    val urMemo = mutable.HashMap.empty[Long, (Long, Int)] // conv -> (root, chain length)
    def ur(conv: Long): (Long, Int) = urMemo.getOrElse(conv, {
      // iterative walk: chains can be ~1k conversations long
      val path = mutable.ArrayBuffer(conv)
      while (parentOf.contains(path.last) && !urMemo.contains(path.last))
        path += parentOf(path.last)
      val (root, base) = urMemo.getOrElse(path.last, (path.last, 0))
      path.reverseIterator.zipWithIndex.foreach { case (c, i) =>
        if (!urMemo.contains(c)) urMemo(c) = (root, base + i)
      }
      urMemo(conv)
    })

    // reply-tree descendants and height: replies always have larger ids
    // than their parents, so one pass in descending id order suffices
    val n = all.size
    val desc = new Array[Long](n)
    val height = new Array[Long](n)
    val index = all.zipWithIndex.map { case (t, i) => t.id -> i }.toMap
    for (i <- (n - 1) to 0 by -1) {
      val p = all(i).replyTo
      if (p != null) {
        val j = index(p.id)
        desc(j) += 1 + desc(i)
        height(j) = math.max(height(j), height(i) + 1)
      }
    }
    val depth = new Array[Long](n) // reply depth from the conversation root
    for (i <- 0 until n) { val p = all(i).replyTo; if (p != null) depth(i) = depth(index(p.id)) + 1 }

    val convs = all.map(_.conv).distinct
    val urs = convs.map(c => ur(c)._1)
    val mentioned = all.filter(_.mention > 0).map(_.mention).toSet
    val mentionErrorIds = mentionErrorNames.filter(mentioned.contains)
    val groupSizes = all.groupBy(t => ur(t.conv)._1).view.mapValues(_.size.toLong)
    val nErr = errorTweetIds.size.toLong
    val expected = Map(
      // late replies exist only as drifted expansion copies, whose
      // reply_count (0 + 100) is positive
      "conversation_ids" -> all.filter(t => !t.original || t.replies > 0).map(_.conv).distinct.size.toLong,
      "tweets_i" -> (n + nErr),
      "users_a" -> (userIds ++ errorUserIds ++ mentionErrorIds).size.toLong,
      "tweet_hashtags_a" -> all.map(_.tags.size.toLong).sum,
      "tweet_urls_a" -> all.count(_.withUrl).toLong,
      "tweet_mentions_a" -> all.count(_.mention > 0).toLong,
      "tweet_stats_i" -> n.toLong,
      "tweets_a" -> (n + nErr),
      "conversations_a" -> (convs.size + (if (nErr > 0) 1 else 0)).toLong,
      "ur_conversations_a" -> (urs.distinct.size + (if (nErr > 0) 1 else 0)).toLong,
      "_quarantine" -> corrupt)
    val properties = Seq(
      "tweets" -> n.toDouble,
      "jsonl_bytes" -> bytes.toDouble,
      "conversations" -> convs.size.toDouble,
      "largest_conversation" -> all.groupBy(_.conv).values.map(_.size).max.toDouble,
      "deepest_reply_chain" -> depth.max.toDouble,
      "longest_quote_retweet_chain" -> convs.map(c => ur(c)._2).max.toDouble,
      "refetch_share" -> refetch.size.toDouble / originals.size,
      "corrupt_share" -> corrupt.toDouble / (pages + corrupt))
    Model(origPaths, expPaths, bytes, tweetRecords, expected,
      all.map(_.id).toArray, all.map(t => ur(t.conv)._1).toArray, desc, height,
      properties, best.size.toLong, groupSizes.values.max)
  }

  private def ts(id: Long): String = {
    val s = (id - FirstTweetId) * 3 // one tweet per ~3 s from Feb 2022 on
    val day = s / 86400
    f"2022-${2 + day / 28}%02d-${1 + day % 28}%02dT${s % 86400 / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d.000Z"
  }

  private def tweetJson(sb: StringBuilder, t: Tweet, drifted: Boolean): Unit = {
    val d = if (drifted) 100 else 0
    val replies = if (t.original) t.replies else 0L
    sb ++= s"""{"id": "${t.id}", "conversation_id": "${t.conv}", "author_id": "${t.author}", """
    sb ++= s""""created_at": "${ts(t.id)}", "lang": "${if (t.id % 5 == 0) "fi" else "en"}", """
    val url = if (t.withUrl) s" https://t.co/x${t.id}" else ""
    sb ++= s""""text": "tweet ${t.id} body$url${t.tags.map(" #" + _).mkString}", """
    sb ++= s""""public_metrics": {"retweet_count": ${t.id % 9 + d}, "reply_count": ${replies + d}, "like_count": ${t.id % 23 + d}, "quote_count": ${t.id % 4}}"""
    if (t.replyTo != null) sb ++= s""", "in_reply_to_user_id": "${t.replyTo.author}""""
    val refs =
      Option(t.replyTo).map(p => s"""{"type": "replied_to", "id": "${p.id}"}""").toSeq ++
      Option(t.quoted).map(p => s"""{"type": "quoted", "id": "${p.id}"}""").toSeq ++
      Option(t.retweeted).map(p => s"""{"type": "retweeted", "id": "${p.id}"}""").toSeq
    if (refs.nonEmpty) sb ++= refs.mkString(", \"referenced_tweets\": [", ", ", "]")
    val ents = Seq(
      if (t.tags.isEmpty) "" else t.tags.map(h => s"""{"tag": "$h"}""").mkString("\"hashtags\": [", ", ", "]"),
      if (t.mention < 0) "" else s""""mentions": [{"username": "u${t.mention}", "id": "${t.mention}"}]""",
      if (!t.withUrl) "" else s""""urls": [{"url": "https://t.co/x${t.id}", "expanded_url": "https://example.org/a/${t.id}"}]"""
    ).filter(_.nonEmpty)
    if (ents.nonEmpty) sb ++= ents.mkString(", \"entities\": {", ", ", "}")
    sb ++= "}"
  }

  private def userJson(id: Long): String = {
    val empty = id % 11 == 0 // empty-string url/location exercise the nullif path
    val url = if (empty) "" else s"https://t.co/u$id"
    val loc = if (empty) "" else s"city${id % 37}"
    val desc = if (id % 13 == 0) "" else s"user $id writes things https://t.co/u$id"
    val ent = if (empty) ""
      else s""", "entities": {"url": {"urls": [{"url": "https://t.co/u$id", "expanded_url": "https://u$id.example.net"}]}}"""
    s"""{"id": "$id", "username": "u$id", "name": "User $id", "description": "$desc", """ +
      s""""created_at": "2020-0${1 + id % 9}-1${id % 9}T0${id % 9}:00:00.000Z", """ +
      s""""verified": ${id % 7 == 0}, "protected": ${id % 17 == 0}, "url": "$url", "location": "$loc", """ +
      s""""public_metrics": {"followers_count": ${id % 5000}, "following_count": ${id % 800}, "tweet_count": ${id % 20000}, "listed_count": ${id % 40}}$ent}"""
  }

  private def pageJson(sb: StringBuilder, data: Seq[Tweet], inc: Seq[Tweet], users: Seq[Long],
                       errors: Seq[String], pageNo: Int, drifted: Boolean): Unit = {
    sb ++= """{"data": ["""
    data.zipWithIndex.foreach { case (t, i) => if (i > 0) sb ++= ", "; tweetJson(sb, t, drifted) }
    sb ++= "], \"includes\": {"
    if (inc.nonEmpty) {
      sb ++= "\"tweets\": ["
      inc.zipWithIndex.foreach { case (t, i) => if (i > 0) sb ++= ", "; tweetJson(sb, t, drifted) }
      sb ++= "], "
    }
    sb ++= users.map(userJson).mkString("\"users\": [", ", ", "]")
    sb ++= s"""}, "meta": {"next_token": "tok$pageNo"}"""
    if (errors.nonEmpty) sb ++= errors.mkString(", \"errors\": [", ", ", "]")
    sb ++= "}"
  }
}
