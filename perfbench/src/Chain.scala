package perfbench

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Schemas

/** One sidechain transaction and block in the RPC envelope BlockParsers reads. */
case class Tx(contract: String, action: String, sender: String,
              transactionId: String, payload: String, logs: String)
case class Block(blockNumber: Long, timestamp: String, transactions: Seq[Tx])

/** One flattened L1 op: Schemas.hiveOps without `seq`, which ingestion
  * encodes from (ts, op_idx) with Schemas.l1Seq.
  */
case class L1Op(ts: Timestamp, op_idx: Int, op_type: String, author: String,
                permlink: String, parent_author: String, parent_permlink: String,
                title: String, body: String, json_metadata: String,
                cj_id: String, cj_json: String,
                posting_auths: Seq[String], auths: Seq[String])

/** What the generator meant by each transaction and op; the sequential model
  * folds these, never the JSON the program parses.
  */
sealed trait Ev
final case class NewComment(author: String, permlink: String, token: String) extends Ev
final case class VoteEv(author: String, permlink: String, voter: String,
                        weight: Int, token: String, rshares: Long) extends Ev
final case class RewardEv(kind: String, account: String, authorperm: String,
                          token: String, qty: BigDecimal) extends Ev
final case class MuteEv(account: String, token: String, mute: Boolean) extends Ev
final case class GTx(tx: Tx, evs: Seq[Ev], errored: Boolean)

sealed trait Op
final case class CommentOp(author: String, permlink: String, parentAuthor: String,
                           parentPermlink: String) extends Op
final case class DeleteOp(author: String, permlink: String) extends Op
final case class FollowOp(signer: String, follower: String, following: String,
                          what: Seq[String]) extends Op
final case class ReblogOp(signer: String, account: String, author: String,
                          permlink: String, delete: Boolean) extends Op
final case class GOp(row: L1Op, op: Op)

final case class TokenSpec(symbol: String, poolId: Int, promoAccount: String,
                           beneficiary: String)

/** Discrete Zipf(s) sampler over ranks 0..n-1. */
final class Zipf(n: Int, s: Double, rnd: Random) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A seeded multi-token chain: sidechain blocks at a 3 s slot cadence (only
  * slots with activity are kept), the flattened L1 ops, and token config.
  * `tail` appends that many consecutive live blocks after the chain end,
  * one new root post each.
  */
final class Chain(val seed: Long, val tail: Int) {
  import Chain._

  val slotsBase: Int = Days * SlotsPerDay
  val slotsEnd: Int = slotsBase + tail
  val sc = mutable.TreeMap.empty[Int, ArrayBuffer[GTx]]
  val l1 = mutable.TreeMap.empty[Int, ArrayBuffer[GOp]]
  val tokens: Seq[TokenSpec] = Symbols.take(Tokens).zipWithIndex.map {
    case (s, i) => TokenSpec(s, i + 1, s"promo.${s.toLowerCase}", s"bene.${s.toLowerCase}")
  }
  val accounts: IndexedSeq[String] = (0 until Accounts).map(i => f"u$i%04d")
  /** Root posts in generation order: (author, permlink, slot, tokens). */
  private val roots = ArrayBuffer.empty[(String, String, Int, Seq[String])]
  /** Live-tail posts: (slot, author, permlink, token). */
  val tailPosts = ArrayBuffer.empty[(Int, String, String, String)]

  private val rnd = new Random(seed)
  private var txCounter = 0L

  def tsSec(slot: Int): Long = Genesis + slot.toLong * 3
  /** The API's "now" for a chain that ends before `untilSlot`. */
  def nowSec(untilSlot: Int): Long = tsSec(untilSlot)

  private def txid(): String = { txCounter += 1; f"$seed%x-$txCounter%08x" }
  private def addTx(slot: Int, t: GTx): Unit =
    sc.getOrElseUpdate(slot, ArrayBuffer.empty) += t
  private def addOp(slot: Int, mk: Int => GOp): Unit = {
    val buf = l1.getOrElseUpdate(slot, ArrayBuffer.empty)
    buf += mk(buf.size)
  }
  private def ts(slot: Int) = new Timestamp(tsSec(slot) * 1000)

  private def commentOpRow(slot: Int, idx: Int, c: CommentOp, tags: Seq[String],
                           doubleEncoded: Boolean): L1Op = {
    val meta = s"""{"tags":[${tags.map(q).mkString(",")}],"app":"peakd/2024.1"}"""
    L1Op(ts(slot), idx, "comment", c.author, c.permlink, c.parentAuthor, c.parentPermlink,
      s"title ${c.permlink}", words(12 + rnd.nextInt(30)),
      if (doubleEncoded) q(meta) else meta, null, null, Seq.empty, Seq.empty)
  }

  private def words(n: Int): String =
    Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  private def newCommentTx(author: String, permlink: String, toks: Seq[String]): GTx = {
    val evs = toks.map(t => NewComment(author, permlink, t))
    val logs = toks.map(t =>
      s"""{"contract":"comments","event":"newComment","data":{"symbol":"$t"}}""")
      .mkString("""{"events":[""", ",", "]}")
    GTx(Tx("comments", "comment", author, txid(),
      s"""{"author":"$author","permlink":"$permlink"}""", logs), evs, errored = false)
  }

  private def voteTx(author: String, permlink: String, voter: String, weight: Int,
                     toks: Seq[String], rshares: Long, update: Boolean,
                     errored: Boolean): GTx = {
    val name = if (update) "updateVote" else "newVote"
    val evJson = toks.map(t =>
      s"""{"contract":"comments","event":"$name","data":{"symbol":"$t","rshares":"$rshares"}}""")
      .mkString(",")
    val logs =
      if (errored) s"""{"errors":["not enough voting power"],"events":[$evJson]}"""
      else s"""{"events":[$evJson]}"""
    GTx(Tx("comments", "vote", voter, txid(),
      s"""{"author":"$author","permlink":"$permlink","voter":"$voter","weight":$weight}""",
      logs), toks.map(t => VoteEv(author, permlink, voter, weight, t, rshares)), errored)
  }

  private def generate(): Unit = {
    val authorZipf = new Zipf(accounts.size, 0.8, rnd)
    val tokenZipf = new Zipf(tokens.size, 1.0, rnd)
    val tagZipf = new Zipf(Tags.length, 1.0, rnd)
    def pickTokens(): Seq[String] = {
      val a = tokens(tokenZipf.next()).symbol
      if (tokens.size > 1 && rnd.nextDouble() < 0.2) {
        val b = tokens(tokenZipf.next()).symbol
        if (b != a) Seq(a, b) else Seq(a)
      } else Seq(a)
    }

    // --- root posts: L1 comment op and sidechain newComment in one slot ---
    val category = mutable.Map.empty[String, String]
    val postSlot = mutable.Map.empty[String, Int]
    val postAuthor = mutable.Map.empty[String, String]
    val postTokens = mutable.Map.empty[String, Seq[String]]
    for (i <- 0 until RootPosts) {
      val slot = rnd.nextInt(slotsBase - 1)
      val author = accounts(authorZipf.next())
      val permlink = f"p$i%05d"
      val toks = pickTokens()
      val tags = (0 to rnd.nextInt(3)).map(_ => Tags(tagZipf.next())).distinct
      val ap = s"@$author/$permlink"
      category(ap) = tags.head; postSlot(ap) = slot; postAuthor(ap) = author
      postTokens(ap) = toks
      roots += ((author, permlink, slot, toks))
      addTx(slot, newCommentTx(author, permlink, toks))
      val c = CommentOp(author, permlink, "", tags.head)
      addOp(slot, idx => GOp(commentOpRow(slot, idx, c, tags, rnd.nextDouble() < 0.1), c))
    }

    // --- reply trees (depth <= 8) under Zipf-hot roots ---
    val rootZipf = new Zipf(roots.size, PostZipf, rnd)
    val threadNodes = mutable.Map.empty[String, ArrayBuffer[(String, Int)]]   // root -> (ap, depth)
    val rootOf = mutable.Map.empty[String, String]
    val replies = ArrayBuffer.empty[String]
    for (j <- 0 until Replies) {
      val (ra, rp, _, _) = roots(rootZipf.next())
      val root = s"@$ra/$rp"
      val nodes = threadNodes.getOrElseUpdate(root, ArrayBuffer((root, 0)))
      val cand = if (rnd.nextDouble() < 0.5) nodes.last else nodes(rnd.nextInt(nodes.size))
      val (parent, depth) = if (cand._2 >= 8) nodes.head else cand
      val slot = postSlot(parent) + 1 + rnd.nextInt(2 * SlotsPerDay)
      if (slot < slotsBase) {
        val author = accounts(authorZipf.next())
        val permlink = f"re-$j%05d"
        val ap = s"@$author/$permlink"
        val toks = postTokens(root)
        postSlot(ap) = slot; postAuthor(ap) = author; postTokens(ap) = toks
        nodes += ((ap, depth + 1)); rootOf(ap) = root; replies += ap
        addTx(slot, newCommentTx(author, permlink, toks))
        val pa = postAuthor(parent)
        val pp = parent.substring(pa.length + 2)
        val c = CommentOp(author, permlink, pa, pp)
        addOp(slot, idx => GOp(commentOpRow(slot, idx, c, Seq(category(root)), false), c))
      }
    }

    // --- deletes: reply-less roots, a day or more after creation ---
    val deletable = roots.map { case (a, pl, _, _) => s"@$a/$pl" }
      .filterNot(threadNodes.contains)
    val deleted = rnd.shuffle(deletable.toList).take(Deletes).toSet
    for (ap <- deleted) {
      val slot = postSlot(ap) + SlotsPerDay + rnd.nextInt(SlotsPerDay)
      if (slot < slotsBase) {
        val a = postAuthor(ap); val pl = ap.substring(a.length + 2)
        addOp(slot, idx => GOp(L1Op(ts(slot), idx, "delete_comment", a, pl, null, null,
          null, null, null, null, null, Seq.empty, Seq.empty), DeleteOp(a, pl)))
      }
    }
    val liveRoots = roots.map { case (a, pl, s, t) => (s"@$a/$pl", s, t) }
      .filterNot(r => deleted.contains(r._1))

    // --- edits of live roots: a later full-body comment op ---
    for (_ <- 0 until Edits) {
      val (ap, s0, _) = liveRoots(rnd.nextInt(liveRoots.size))
      val slot = s0 + 1 + rnd.nextInt(SlotsPerDay)
      if (slot < slotsBase) {
        val a = postAuthor(ap)
        val c = CommentOp(a, ap.substring(a.length + 2), "", category(ap))
        addOp(slot, idx => GOp(commentOpRow(slot, idx, c, Seq(category(ap)), false), c))
      }
    }

    // --- votes: Zipf-hot posts, within three days of creation ---
    val allPosts = liveRoots.map(_._1) ++ replies
    val voted = mutable.Map.empty[String, ArrayBuffer[String]]
    for (_ <- 0 until Votes) {
      val ap =
        if (rnd.nextDouble() < 0.8 || replies.isEmpty) liveRoots(rootZipf.next() % liveRoots.size)._1
        else replies(rnd.nextInt(replies.size))
      val slot = postSlot(ap) + 1 + rnd.nextInt(3 * SlotsPerDay)
      if (slot < slotsBase) {
        val voter = accounts(rnd.nextInt(accounts.size))
        val weight = if (rnd.nextDouble() < 0.08) -10000 else if (rnd.nextDouble() < 0.3) 5000 else 10000
        val rshares = weight.toLong * (1000L + rnd.nextInt(5000000)) / 10000
        val vs = voted.getOrElseUpdate(ap, ArrayBuffer.empty)
        val update = vs.contains(voter)
        vs += voter
        val a = postAuthor(ap)
        addTx(slot, voteTx(a, ap.substring(a.length + 2), voter, weight, postTokens(ap),
          rshares, update, errored = false))
        if (rnd.nextDouble() < ErrorShare)
          addTx(slot, voteTx(a, ap.substring(a.length + 2), accounts(rnd.nextInt(accounts.size)),
            10000, postTokens(ap), 777L, update = false, errored = true))
      }
    }

    // --- rewards at cashout (created + 7 days), one event per transaction ---
    for (ap <- allPosts.sortBy(postSlot)) {
      val slot = postSlot(ap) + CashoutDays * SlotsPerDay
      if (slot < slotsBase) for (t <- postTokens(ap)) {
        val spec = tokens.find(_.symbol == t).get
        val curators = voted.getOrElse(ap, ArrayBuffer.empty).distinct.take(3)
        val rewards = Seq(("authorReward", postAuthor(ap))) ++
          (if (rnd.nextDouble() < 0.5) Seq(("beneficiaryReward", spec.beneficiary)) else Nil) ++
          curators.map(v => ("curationReward", v))
        for ((kind, acct) <- rewards) {
          val qty = BigDecimal(1 + rnd.nextInt(99999)) / 1000
          val logs = s"""{"events":[{"contract":"comments","event":"$kind","data":""" +
            s"""{"symbol":"$t","account":"$acct","authorperm":"$ap","quantity":"$qty"}}]}"""
          addTx(slot, GTx(Tx("comments", "payout", "null", txid(), "{}", logs),
            Seq(RewardEv(kind, acct, ap, t, qty)), errored = false))
        }
      }
    }

    // --- account mutes (a third are later lifted) ---
    for (_ <- 0 until Mutes) {
      val acct = accounts(authorZipf.next())
      val spec = tokens(rnd.nextInt(tokens.size))
      val slot = rnd.nextInt(slotsBase - 2 * SlotsPerDay)
      def mute(s: Int, m: Boolean): Unit =
        addTx(s, GTx(Tx("comments", "setMute", "issuer", txid(),
          s"""{"rewardPoolId":${spec.poolId},"account":"$acct","mute":$m}""", "{}"),
          Seq(MuteEv(acct, spec.symbol, m)), errored = false))
      mute(slot, true)
      if (rnd.nextDouble() < 0.33) mute(slot + SlotsPerDay, false)
    }

    // --- promotion transfers to the token's promoted-post account ---
    for (_ <- 0 until Promotions) {
      val (ap, s0, toks) = liveRoots(rootZipf.next() % liveRoots.size)
      val spec = tokens.find(_.symbol == toks.head).get
      val slot = s0 + 1 + rnd.nextInt(2 * SlotsPerDay)
      if (slot < slotsBase) {
        val from = accounts(rnd.nextInt(accounts.size))
        addTx(slot, GTx(Tx("tokens", "transfer", from, txid(),
          s"""{"symbol":"${spec.symbol}","quantity":"${1 + rnd.nextInt(50)}.500","memo":"$ap","to":"${spec.promoAccount}"}""",
          "{}"), Nil, errored = false))
      }
    }

    // --- follows: Zipf-popular targets, some unfollow/ignore, a few forged ---
    val followZipf = new Zipf(accounts.size, 0.9, rnd)
    for (_ <- 0 until Follows) {
      val slot = rnd.nextInt(slotsBase)
      val follower = accounts(rnd.nextInt(accounts.size))
      val following = accounts(followZipf.next())
      if (following != follower) {
        val u = rnd.nextDouble()
        val what = if (u < 0.72) Seq("blog") else if (u < 0.87) Seq.empty else Seq("ignore")
        val signer = if (rnd.nextDouble() < 0.05) accounts(rnd.nextInt(accounts.size)) else follower
        val json = s"""["follow",{"follower":"$follower","following":"$following","what":[${what.map(q).mkString(",")}]}]"""
        val cj = if (rnd.nextDouble() < 0.1) q(json) else json
        addOp(slot, idx => GOp(L1Op(ts(slot), idx, "custom_json", null, null, null, null,
          null, null, null, "follow", cj, Seq(signer), Seq.empty),
          FollowOp(signer, follower, following, what)))
      }
    }

    // --- reblogs of live roots; a few are later withdrawn ---
    for (_ <- 0 until Reblogs) {
      val (ap, s0, _) = liveRoots(rootZipf.next() % liveRoots.size)
      val slot = s0 + 1 + rnd.nextInt(2 * SlotsPerDay)
      val acct = accounts(rnd.nextInt(accounts.size))
      val a = postAuthor(ap); val pl = ap.substring(a.length + 2)
      def reblog(s: Int, del: Boolean): Unit = if (s < slotsBase) {
        val json = s"""["reblog",{"account":"$acct","author":"$a","permlink":"$pl"${if (del) ""","delete":"delete"""" else ""}}]"""
        addOp(s, idx => GOp(L1Op(ts(s), idx, "custom_json", null, null, null, null,
          null, null, null, "reblog", json, Seq(acct), Seq.empty),
          ReblogOp(acct, acct, a, pl, del)))
      }
      reblog(slot, false)
      if (rnd.nextDouble() < 0.05) reblog(slot + SlotsPerDay, true)
    }

    // --- live tail: one new root post per consecutive block ---
    for (k <- 0 until tail) {
      val slot = slotsBase + k
      val author = accounts(authorZipf.next())
      val permlink = f"live$k%05d"
      val tok = tokens(k % tokens.size).symbol
      tailPosts += ((slot, author, permlink, tok))
      addTx(slot, newCommentTx(author, permlink, Seq(tok)))
      val c = CommentOp(author, permlink, "", Tags(tagZipf.next()))
      addOp(slot, idx => GOp(commentOpRow(slot, idx, c, Seq(c.parentPermlink), false), c))
      for (_ <- 0 until 2) {
        val (ap, toks) =
          if (k > 0 && rnd.nextBoolean()) {
            val (_, ta, tp, tt) = tailPosts(rnd.nextInt(k))
            (s"@$ta/$tp", Seq(tt))
          } else {
            val (r, _, t) = liveRoots(rootZipf.next() % liveRoots.size); (r, t)
          }
        val pa = ap.substring(1, ap.indexOf('/'))
        addTx(slot, voteTx(pa, ap.substring(pa.length + 2), accounts(rnd.nextInt(accounts.size)),
          10000, toks, 1000L + rnd.nextInt(5000000), update = false, errored = false))
      }
      if (rnd.nextDouble() < 0.3) {
        val follower = accounts(rnd.nextInt(accounts.size))
        val following = accounts(followZipf.next())
        if (follower != following) {
          val json = s"""["follow",{"follower":"$follower","following":"$following","what":["blog"]}]"""
          addOp(slot, idx => GOp(L1Op(ts(slot), idx, "custom_json", null, null, null, null,
            null, null, null, "follow", json, Seq(follower), Seq.empty),
            FollowOp(follower, follower, following, Seq("blog"))))
        }
      }
    }
  }
  generate()

  def block(slot: Int): Block =
    Block(BlockBase + slot, IsoFmt.format(Instant.ofEpochSecond(tsSec(slot))),
      sc(slot).map(_.tx).toSeq)

  def blocks(from: Int, until: Int): Seq[Block] =
    sc.range(from, until).keys.map(block).toSeq

  def ops(from: Int, until: Int): Seq[L1Op] =
    l1.range(from, until).values.flatten.map(_.row).toSeq

  def blockCount(from: Int, until: Int): Int = sc.range(from, until).size
}

object Chain {
  // sizes of the 40-day chain; a block is kept only for a slot with activity
  val Days = 40
  val Accounts = 300
  val Tokens = 3
  val RootPosts = 300
  val Replies = 200
  val Votes = 2500
  val Follows = 600
  val Reblogs = 100
  val Deletes = 10
  val Edits = 40
  val Mutes = 8
  val Promotions = 40
  /** Share of vote transactions followed by a failed one (`logs.errors`). */
  val ErrorShare = 0.02
  /** Zipf exponent of post popularity (votes, replies, reblogs, promotions). */
  val PostZipf = 1.1
  val SlotsPerDay = 28800
  val CashoutDays = 7
  val Genesis = 1704067200L        // 2024-01-01T00:00:00Z
  val BlockBase = 40000000L
  val Symbols = Seq("LEO", "PAL", "SPT", "NEO", "ARC", "BEE")
  val Tags = (0 until 30).map(i => f"tag$i%02d")
  val Vocab = Seq("hive", "engine", "token", "post", "vote", "stake", "reward",
    "curation", "author", "block", "chain", "feed", "thread", "reply", "tribe",
    "witness", "power", "market", "trade", "the", "a", "of", "and", "to", "in")
  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** JSON string literal of `s` (used for double-encoded payloads too). */
  def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def blocksDF(spark: SparkSession, blocks: Seq[Block]): DataFrame = {
    import spark.implicits._
    blocks.toDF()
  }

  /** L1 ops in the Schemas.hiveOps layout, seq encoded by the engine's own
    * cross-stream encoder.
    */
  def opsDF(spark: SparkSession, ops: Seq[L1Op]): DataFrame = {
    import spark.implicits._
    ops.toDF().select(
      Schemas.l1Seq(col("ts"), lit(0), col("op_idx")).as("seq") +:
        Schemas.hiveOps.fieldNames.tail.map(n => col(n)).toSeq: _*)
  }

  def tokenConfigDF(spark: SparkSession, tokens: Seq[TokenSpec]): DataFrame = {
    val rows = tokens.map(t => Row(t.symbol, CashoutDays, 50,
      new java.math.BigDecimal("1.0000"), new java.math.BigDecimal("0.5000"), 10,
      t.beneficiary, t.promoAccount, t.poolId, s"${t.symbol.toLowerCase}.token", 5, 5,
      false, false, Seq(t.symbol.toLowerCase), "issuer"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schemas.tokenConfig)
  }
}
