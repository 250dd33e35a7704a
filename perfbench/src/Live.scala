package perfbench

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.{BlockParsers, ContractReplay, EngineState, Feeds, HiveOpsReplay, Promotion}
import graft.streaming.StreamOps.AlignmentGate
import graft.streaming.UpsertSink

/** What the feed delivers per open-loop tick: an L1 block's ops or a
  * sidechain block (the sidechain trails L1 by one block).
  */
case class Arrival(sc: Option[Block], l1: Option[L1Op])

/** One micro-batch: wall and process-CPU bounds, the tail blocks it
  * committed, and the L1 ops the gate still held after it.
  */
final case class Batch(start: Long, end: Long, cpu0: Long, cpu1: Long,
                       blocks: Seq[Int], held: Int) {
  def ms: Double = (end - start) / 1e6
}

/** The indexer end to end. Set-up folds the chain prefix (parse, posts with
  * scores, votes, follows, account mutes) and seeds three catalog-MERGE
  * upsert sinks (posts, votes, follows) from it. Measured: an
  * open-loop generator offers the live tail at a fixed rate to a Structured
  * Streaming query that parses each micro-batch, releases L1 ops through
  * the alignment gate once the sidechain has passed them, and merges every
  * table; beside it one closed-loop reader pages the created feed of each
  * token (which times freshness) and follow lists over the sinks' state.
  */
object Live {
  /** Offered blocks per second: the 3 s chain cadence sped up 9×, which the
    * stream sustains on a 4-core box with a ~10 s trigger.
    */
  val Rate = 3.0
  /** Stream time before the window opens: the first triggers run cold. */
  val WarmS = 8.0
  val Limit = 20

  final class Sinks(spark: SparkSession, dir: String) {
    val posts = new UpsertSink(spark, s"$dir/posts", Seq("authorperm", "token"), "seq", "op",
      numBuckets = 4, backend = UpsertSink.CatalogMerge)
    val votes = new UpsertSink(spark, s"$dir/votes", Seq("authorperm", "token", "voter"), "seq",
      "op", numBuckets = 4, backend = UpsertSink.CatalogMerge)
    val follows = new UpsertSink(spark, s"$dir/follows", Seq("follower", "following"), "seq",
      "op", numBuckets = 4, backend = UpsertSink.CatalogMerge)

    private def tag(df: DataFrame, id: Long) =
      df.withColumn("seq", lit(id)).withColumn("op", lit("upsert"))

    /** Seed the three empty sinks side by side (batch 0). */
    def seed(posts: DataFrame, votes: DataFrame, follows: DataFrame): Unit =
      parallel(Seq(() => this.posts.merge(tag(posts, 0L), 0L),
        () => this.votes.merge(tag(votes, 0L), 0L),
        () => this.follows.merge(tag(follows, 0L), 0L)))

    def merge(posts: DataFrame, votes: DataFrame, follows: DataFrame, id: Long): Unit = {
      Trace.span("streaming.UpsertSink.merge.posts") { this.posts.merge(tag(posts, id), id) }
      Trace.span("streaming.UpsertSink.merge.votes") { this.votes.merge(tag(votes, id), id) }
      Trace.span("streaming.UpsertSink.merge.follows") { this.follows.merge(tag(follows, id), id) }
    }
  }

  /** The posts rows one micro-batch creates, assembled from the same public
    * folds and in the same column layout as `Replay.replay` builds posts
    * (the full replay also rebuilds seven other tables, which the stream
    * does not need per trigger).
    */
  def batchPosts(events: DataFrame, transfers: DataFrame, ops: DataFrame,
                 cfg: DataFrame): DataFrame = {
    val ppa = cfg.select(col("token"), lit(Long.MinValue).as("seq"), col("promoted_post_account"))
    val core = ContractReplay.postsState(events, cfg, HiveOpsReplay.deletes(ops),
      Promotion.parse(transfers, ppa))
    core.join(HiveOpsReplay.l1PostFields(ops), Seq("authorperm"), "left")
      .join(HiveOpsReplay.childrenCounts(ops, core), Seq("authorperm"), "left")
      .select(
        col("authorperm"), col("token"), col("author"), col("created"),
        coalesce(col("tags"), array().cast("array<string>")).as("tags"), col("app"),
        coalesce(col("main_post"), lit(false)).as("main_post"), lit(false).as("decline_payout"),
        col("vote_rshares"), col("cashout_time"), col("last_payout"),
        col("total_payout_value"), col("curator_payout_value"),
        col("score_trend"), col("score_hot"), col("beneficiaries_payout_value"), col("promoted"),
        col("title"), col("desc"), coalesce(col("children"), lit(0)).as("children"),
        col("parent_author"), col("parent_permlink"), col("score_promoted"), col("muted"))
  }

  /** Run independent set-up steps on their own driver threads. */
  def parallel[T](steps: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(steps.map(f => Future(f()))), Duration.Inf)
    finally pool.shutdown()
  }

  private def mean(xs: Seq[Int]): Double = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size

  def tailBlocks(seconds: Int): Int = math.ceil(Rate * (WarmS + seconds)).toInt + 1

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sessionS = Bench.sinceJvmStart()

    // ---- set-up: generate, fold the prefix, seed the sinks --------------------
    val g0 = Bench.nowNs()
    val chain = new Chain(ctx.seed, tailBlocks(ctx.seconds))
    val cfg = Chain.tokenConfigDF(spark, chain.tokens).localCheckpoint()
    val prefixBlocks = Chain.blocksDF(spark, chain.blocks(0, chain.slotsBase))
    val prefixOps = Chain.opsDF(spark, chain.ops(0, chain.slotsBase))
    val genS = (Bench.nowNs() - g0) / 1e9
    // the prefix goes through the same fold as every micro-batch, once;
    // the reader's accounts (the sidechain mute rows) never change in the tail
    Trace.enabled = ctx.trace
    val r0 = Bench.nowNs()
    val (events, transfers) = Trace.build("engine.BlockParsers") {
      (BlockParsers.resolveMuteSymbols(BlockParsers.sidechainEvents(prefixBlocks), cfg),
        BlockParsers.sidechainTransfers(prefixBlocks))
    }
    val ev = events.localCheckpoint()
    val none = spark.emptyDataFrame
    val Seq(posts, votes, accounts, follows) = parallel(Seq(
      () => batchPosts(ev, transfers, prefixOps, cfg),
      () => ContractReplay.votesState(ev),
      () => ContractReplay.accountMutes(ev).withColumnRenamed("mute", "muted"),
      () => HiveOpsReplay.followsState(prefixOps)).map(f => () => f().localCheckpoint()))
    val st = EngineState(posts = posts, postMetadata = none, votes = votes,
      accountHistory = none, accounts = accounts, follows = follows, reblogs = none,
      tokenConfig = cfg)
    val foldS = (Bench.nowNs() - r0) / 1e9
    Trace.enabled = false

    val k0 = Bench.nowNs()
    val sinks = new Sinks(spark, ctx.dir("live/sinks"))
    sinks.seed(st.posts, st.votes, st.follows)
    val tokens = chain.tokens.map(_.symbol).toIndexedSeq
    val nowTs = new Timestamp(chain.nowSec(chain.slotsEnd + 1) * 1000)
    def readState(): EngineState = Trace.span("streaming.UpsertSink.state") {
      st.copy(posts = sinks.posts.state(), follows = sinks.follows.state())
    }
    for (t <- tokens) Feeds.formatFeed(Feeds.discussionsByCreated(readState(), t, nowTs, Limit)).collect()
    Feeds.following(readState(), chain.accounts(0)).collect()
    val seedS = (Bench.nowNs() - k0) / 1e9

    // ---- the stream -----------------------------------------------------------
    val tail = chain.tailPosts.toIndexedSeq
    val n = tail.size
    val tailIndex = tail.zipWithIndex.map { case ((_, a, p, _), i) => s"@$a/$p" -> i }.toMap
    val slotIndex = tail.map(_._1).zipWithIndex.toMap
    val warmBlocks = math.ceil(Rate * WarmS).toInt
    val traceFrom = if (ctx.trace) warmBlocks + (n - warmBlocks) / 2 else n
    val due = new Array[Long](n)                 // ns when sidechain block i was offered
    val late = new Array[Double](n)
    val committed = new ConcurrentHashMap[Int, java.lang.Long]()
    val seen = new ConcurrentHashMap[Int, java.lang.Long]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    val gate = new AlignmentGate()
    val held = ArrayBuffer.empty[L1Op]
    val mem = MemoryStream[Arrival]

    // once the window closes, the in-flight micro-batch completes and later
    // ones are skipped: blocks offered after its start are not ingested
    val closing = new AtomicBoolean(false)
    val inTrigger = new AtomicBoolean(false)
    def trigger(b: Dataset[Arrival], id: Long): Unit = {
      inTrigger.set(true)
      try if (!closing.get()) fold(b, id) finally inTrigger.set(false)
    }
    def fold(b: Dataset[Arrival], id: Long): Unit = {
      val t0 = Bench.nowNs()
      val c0 = Bench.cpuNs()
      val (idx, nHeld) = Trace.span("streaming.trigger") {
        val arr = b.collect()
        val blocksIn = arr.flatMap(_.sc)
        held ++= arr.flatMap(_.l1)
        if (blocksIn.nonEmpty) {
          val maxMs = blocksIn.map(bk => chain.tsSec((bk.blockNumber - Chain.BlockBase).toInt)).max * 1000
          Trace.span("streaming.AlignmentGate") { gate.advance(maxMs) }
        }
        val cut = gate.current
        val (release, hold) = held.partition(_.ts.getTime <= cut)
        held.clear(); held ++= hold
        if (blocksIn.nonEmpty || release.nonEmpty) {
          val blocks = b.filter(col("sc").isNotNull).select(col("sc.*"))
          val (events, transfers) = Trace.build("engine.BlockParsers") {
            (BlockParsers.resolveMuteSymbols(BlockParsers.sidechainEvents(blocks), cfg),
              BlockParsers.sidechainTransfers(blocks))
          }
          // the fold feeds several merges, each of which scans its batch more
          // than once: materialize the parsed events and the posts rows once
          val ev = events.localCheckpoint()
          val ops = Chain.opsDF(spark, release.toSeq)
          sinks.merge(batchPosts(ev, transfers, ops, cfg).localCheckpoint(),
            ContractReplay.votesState(ev), HiveOpsReplay.followsState(ops), id + 1)
        }
        val done = Bench.nowNs()
        val idx = blocksIn.flatMap(bk => slotIndex.get((bk.blockNumber - Chain.BlockBase).toInt))
        idx.foreach(i => committed.put(i, done))
        (idx, hold.size)
      }
      batches.add(Batch(t0, Bench.nowNs(), c0, Bench.cpuNs(), idx.toSeq, nHeld))
    }

    val query = mem.toDS().writeStream
      .option("checkpointLocation", ctx.dir("live/checkpoint"))
      .foreachBatch((b: Dataset[Arrival], id: Long) => trigger(b, id))
      .start()

    // ---- the reader: closed loop, created pages per token, every fourth a follow list
    val stop = new AtomicBoolean(false)
    val observed = new ConcurrentLinkedQueue[(Long, Double)]()   // (end ns, ms)
    val readErrors = new ConcurrentLinkedQueue[String]()
    val requests = new AtomicLong()
    def read(k: Int): Unit = {
      val q0 = Bench.nowNs()
      if (k % 4 == 0) {
        Trace.span("engine.Feeds.following") {
          Trace.build("engine.Feeds.following") {
            Feeds.following(readState(), chain.accounts(k % chain.accounts.size))
          }.collect()
        }
      } else {
        val page = Trace.span("engine.Feeds.created") {
          val df = Trace.build("engine.Feeds.created") {
            Feeds.discussionsByCreated(readState(), tokens(k % tokens.size), nowTs, Limit)
          }
          Feeds.formatFeed(df).collect()
        }
        val at = Bench.nowNs()
        page.foreach(r => tailIndex.get(r.getAs[String]("authorperm")).foreach(i => seen.putIfAbsent(i, at)))
      }
      observed.add((Bench.nowNs(), (Bench.nowNs() - q0) / 1e6))
    }
    val observer = new Thread(() => {
      var k = 0
      while (!stop.get()) {
        k += 1
        requests.incrementAndGet()
        try read(k)
        catch { case e: Exception => readErrors.add(s"read failed: ${e.getMessage}") }
      }
    }, "live-reader")
    observer.start()

    // ---- the open-loop generator --------------------------------------------
    val period = (1e9 / Rate).toLong
    val start = Bench.nowNs() + 100000000L
    for (k <- 0 to n) {
      val dueNs = start + k * period
      val wait = dueNs - Bench.nowNs()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      if (k == traceFrom && ctx.trace) {
        Trace.resetTotals()
        Trace.enabled = true
      }
      val arrivals = ArrayBuffer.empty[Arrival]
      if (k < n) chain.l1.get(tail(k)._1).foreach(ops => arrivals ++= ops.map(g => Arrival(None, Some(g.row))))
      if (k >= 1) arrivals += Arrival(Some(chain.block(tail(k - 1)._1)), None)
      mem.addData(arrivals.toSeq)
      if (k >= 1) {
        due(k - 1) = dueNs
        late(k - 1) = (Bench.nowNs() - dueNs) / 1e6
      }
    }
    val genEnd = Bench.nowNs()
    closing.set(true)
    def waitFor(cond: => Boolean, maxS: Double): Unit = {
      val until = Bench.nowNs() + (maxS * 1e9).toLong
      while (!cond && Bench.nowNs() < until && query.isActive) Thread.sleep(20)
    }
    waitFor(!inTrigger.get(), 90)
    // micro-batches commit blocks in order: the tail's first `done` blocks
    val done = committed.size
    val lastCommit = committed.values.asScala.map(_.longValue).maxOption.getOrElse(genEnd)
    val model = new Model(chain, chain.slotsBase + done)
    // a post by an author muted in its token is rightly never shown
    val shown = tail.take(done).map { case (_, a, p, t) => model.visible(s"@$a/$p", t) }
    waitFor(shown.indices.forall(i => !shown(i) || seen.containsKey(i)), 5)
    stop.set(true); observer.join()
    if (ctx.trace) Trace.drain(spark)
    Trace.enabled = false
    val failedBatch = query.exception.map(e => s"micro-batch failed: ${e.getMessage}")
    query.stop()
    val heap = Bench.retainedHeapMb()

    // ---- metrics ------------------------------------------------------------
    def reads(from: Long, until: Long): Seq[Double] =
      observed.asScala.filter(r => r._1 >= from && r._1 < until).map(_._2).toSeq
    // the reader is timed from the window's start until the stream has
    // committed its last micro-batch (in a traced run, the untraced half)
    val windowEnd = if (ctx.trace) due(traceFrom) else lastCommit
    val obs = reads(due(warmBlocks), windowEnd)
    val bs = batches.asScala.toSeq.sortBy(_.start)
    // every micro-batch but the first, which starts cold on a single block
    val steady = bs.filter(_.blocks.nonEmpty).drop(1)
    val perBatch = (if (steady.nonEmpty) steady else bs).map(b => (b.cpu1 - b.cpu0) / 1e6)
    val fr = (1 until done).flatMap(i => Option(seen.get(i)).map(t => (t.longValue - due(i)) / 1e6))
    o.metric("setup_s", sessionS + genS + foldS + seedS, "s")
    o.metric("op_p50_ms", Bench.median(obs), "ms")
    o.metric("op_cpu_ms", Bench.median(perBatch), "ms")
    o.metric("retained_heap_mb", heap, "MB")
    o.detail("req_p50_ms") = Bench.median(obs)
    o.detail("req_p95_ms") = Bench.quantile(obs, 0.95)
    o.detail("req_samples") = obs.size
    o.detail("req_per_s") = obs.size / ((windowEnd - due(warmBlocks)) / 1e9)
    o.detail("fresh_p50_ms") = Bench.median(fr)
    o.detail("fresh_p95_ms") = Bench.quantile(fr, 0.95)
    o.detail("fresh_samples") = fr.size
    o.detail("offered_blocks_per_s") = Rate
    o.detail("trigger_ms") = bs.map(_.ms)
    o.detail("batch_cpu_ms") = perBatch
    o.detail("blocks_per_batch") = mean(bs.map(_.blocks.size))
    o.detail("gen_late_ms_p95") = Bench.quantile(late.toSeq, 0.95)
    o.detail("backlog_blocks") = backlog(due, committed, warmBlocks, n)
    o.detail("committed_blocks") = done
    o.detail("offered_blocks") = n
    o.detail("setup_parts_s") = Map("session" -> sessionS, "generate" -> genS,
      "fold_prefix" -> foldS, "seed_sinks" -> seedS)
    o.detail("sizes") = Sizes.of(chain, chain.slotsBase) ++ Map("tail_blocks" -> n)

    if (ctx.trace) {
      val tb = bs.filter(_.end >= due(traceFrom))
      Layers.fill(ctx, o, math.max(1, tb.size), lastCommit - due(traceFrom))
      o.layers("streaming.trigger.blocks_per_batch") = mean(tb.map(_.blocks.size))
      o.layers("streaming.AlignmentGate.held_ops") = mean(tb.map(_.held))
      o.layers("streaming.freshness_p50_ms") = Bench.median(fr)
      o.layers("streaming.freshness_p95_ms") = Bench.quantile(fr, 0.95)
      o.layers("gen.late_ms_p95") = Bench.quantile(late.drop(traceFrom).toSeq, 0.95)
      o.layers("gen.backlog_blocks") = backlog(due, committed, traceFrom, n)
      o.layers("trace.overhead") = Bench.median(reads(due(traceFrom), lastCommit)) / Bench.median(obs)
      o.detail("overhead") = o.layers("trace.overhead")
    }

    // ---- failures and checks ------------------------------------------------
    val neverShown = shown.indices.count(i => shown(i) && !seen.containsKey(i))
    val errs = readErrors.asScala.toSeq
    o.attempted = done + requests.get() + bs.size
    o.failed = neverShown + errs.size + failedBatch.size
    failedBatch.foreach(e => o.check(false, e))
    errs.take(5).foreach(e => o.check(false, e))
    o.check(neverShown == 0, s"$neverShown streamed posts never shown in a feed page")

    val allBlocks = Chain.blocksDF(spark, chain.blocks(0, chain.slotsBase + done))
    val allEvents = BlockParsers.resolveMuteSymbols(BlockParsers.sidechainEvents(allBlocks), cfg)
    val allOps = Chain.opsDF(spark, chain.ops(0, chain.slotsBase + done))
    // feeds over the final sink state answer exactly as the model does
    val fin = readState()
    val nowSec = chain.nowSec(chain.slotsEnd + 1)
    for (tok <- tokens) {
      def page(anchor: Option[(Timestamp, String)]): Seq[(Long, String)] =
        Feeds.discussionsByCreated(fin, tok, nowTs, Limit, anchor = anchor)
          .select("created", "authorperm").collect()
          .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1))).toSeq
      val p1 = page(None)
      o.check(p1 == model.created(tok, nowSec, Limit, None), s"created($tok) differs from the model")
      p1.lastOption.foreach { case (c, ap) =>
        o.check(page(Some((new Timestamp(c * 1000), ap))) == model.created(tok, nowSec, Limit, Some((c, ap))),
          s"created($tok) page 2 differs from the model")
      }
    }
    for (acct <- chain.accounts.take(2)) {
      val following = Feeds.following(fin, acct).collect().map(_.getString(0)).toSeq
      val followers = Feeds.followers(fin, acct).collect().map(_.getString(0)).toSeq
      val count = Feeds.followCount(fin, acct).collect().head
      o.check(following == model.following(acct) && followers == model.followers(acct) &&
        count.getLong(0) == following.size && count.getLong(1) == followers.size,
        s"following/followers/follow_count($acct) differ from the model")
    }
    Checks.seeded(o, st, new Model(chain, chain.slotsBase))
    Checks.votes(o, sinks.votes.state(), model, "votes sink")
    Checks.votes(o, ContractReplay.votesState(allEvents), model, "batch votesState")
    Checks.follows(o, sinks.follows.state(), model, "follows sink")
    Checks.follows(o, HiveOpsReplay.followsState(allOps), model, "batch followsState")
    val postKeys = sinks.posts.state().select("authorperm", "token").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    o.check(postKeys == model.posts.keySet,
      s"posts sink: ${postKeys.size} keys, model ${model.posts.size}")
    o
  }

  /** Blocks offered but not committed at the end of a window, minus those
    * in flight at its middle: above zero the queue grew, so the offered
    * rate was not sustained.
    */
  private def backlog(due: Array[Long], committed: ConcurrentHashMap[Int, java.lang.Long],
                      from: Int, until: Int): Double = {
    def inFlight(at: Long): Int = (from until until).count(i =>
      due(i) <= at && Option(committed.get(i)).forall(_.longValue > at))
    math.max(0, inFlight(due(until - 1)) - inFlight(due((from + until) / 2))).toDouble
  }
}
