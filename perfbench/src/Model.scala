package perfbench

import scala.collection.mutable

/** Sequential model of the indexer state: folds the generator's own records
  * of a chain prefix one transaction and op at a time, in the canonical
  * cross-stream order (slot-major, sidechain lane before L1). It follows the
  * reference's row-at-a-time semantics and never sees the JSON the program
  * parses, so agreement with the engine's set-wise replay is a real check.
  */
final class Model(chain: Chain, untilSlot: Int) {
  case class PostM(author: String, created: Long, order: Long, creationMuted: Boolean)
  case class VoteM(ts: Long, rshares: Long, weight: Int)

  private val created = mutable.Map.empty[(String, String), PostM]
  private val lastDelete = mutable.Map.empty[String, Long]
  val votes = mutable.Map.empty[(String, String, String), VoteM]
  /** Latest setMute per (account, token), unmutes included. */
  val mutes = mutable.Map.empty[(String, String), Boolean]
  private val followState = mutable.Map.empty[(String, String), Short]
  private val latestComment = mutable.Map.empty[String, CommentOp]

  fold()

  private def fold(): Unit = {
    var order = 0L
    val slots = (chain.sc.range(0, untilSlot).keySet ++ chain.l1.range(0, untilSlot).keySet).toSeq.sorted
    for (slot <- slots) {
      val ts = chain.tsSec(slot)
      for (t <- chain.sc.getOrElse(slot, Nil) if !t.errored; e <- t.evs) {
        order += 1
        e match {
          case NewComment(a, p, tok) =>
            created((s"@$a/$p", tok)) =
              PostM(a, ts, order, mutes.getOrElse((a, tok), false))
          case VoteEv(a, p, voter, w, tok, rs) =>
            votes((s"@$a/$p", tok, voter)) = VoteM(ts, rs, w)
          case _: RewardEv =>
          case MuteEv(acct, tok, m) => mutes((acct, tok)) = m
        }
      }
      for (o <- chain.l1.getOrElse(slot, Nil)) {
        order += 1
        o.op match {
          case c: CommentOp => latestComment(s"@${c.author}/${c.permlink}") = c
          case _: ReblogOp =>
          case DeleteOp(a, p) => lastDelete(s"@$a/$p") = order
          case FollowOp(signer, f, g, what) =>
            if (signer == f) followState((f, g)) =
              if (what == Seq("ignore")) 2 else if (what == Seq("blog")) 1 else 0
        }
      }
    }
  }

  /** posts: (authorperm, token) -> row, minus posts deleted after creation. */
  val posts: Map[(String, String), PostM] = created.filter { case ((ap, _), p) =>
    lastDelete.get(ap).forall(_ < p.order)
  }.toMap

  val follows: Map[(String, String), Short] = followState.toMap

  def accountMuted(name: String, token: String): Boolean = mutes.getOrElse((name, token), false)

  def visible(ap: String, tok: String): Boolean = posts.get((ap, tok)).exists(p =>
    !p.creationMuted && !accountMuted(p.author, tok))

  /** main_post comes from the latest L1 comment op of the post. */
  def mainPost(ap: String): Boolean =
    latestComment.get(ap).exists(c => c.parentPermlink == "" || c.parentAuthor == "")

  /** get_discussions_by_created: (created, authorperm) of one page. */
  def created(token: String, nowSec: Long, limit: Int,
              anchor: Option[(Long, String)]): Seq[(Long, String)] = {
    val cutoff = nowSec - 30L * 86400
    posts.iterator.collect {
      case ((ap, tok), p) if tok == token && mainPost(ap) && p.created > cutoff &&
        visible(ap, tok) => (p.created, ap)
    }.filter { case (c, ap) =>
      anchor.forall { case (ac, aap) => c < ac || (c == ac && ap > aap) }
    }.toSeq.sortBy { case (c, ap) => (-c, ap) }.take(limit)
  }

  def following(account: String): Seq[String] =
    follows.collect { case ((f, g), 1) if f == account => g }.toSeq.sorted.take(1000)

  def followers(account: String): Seq[String] =
    follows.collect { case ((f, g), 1) if g == account => f }.toSeq.sorted.take(1000)
}
