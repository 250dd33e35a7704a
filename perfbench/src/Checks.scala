package perfbench

import org.apache.spark.sql.DataFrame

/** Chain sizes for the record. */
object Sizes {
  def of(chain: Chain, until: Int): Map[String, Any] = {
    val m = new Model(chain, until)
    Map("blocks" -> chain.blockCount(0, until),
      "events" -> chain.sc.range(0, until).values.flatten.map(_.evs.size).sum,
      "l1_ops" -> chain.l1.range(0, until).values.map(_.size).sum,
      "posts" -> m.posts.size, "votes" -> m.votes.size,
      "accounts" -> chain.accounts.size, "follows" -> m.follows.size,
      "tokens" -> chain.tokens.size, "zipf_s" -> Chain.PostZipf)
  }
}

/** Comparisons of seeded or streamed state against the sequential model. */
object Checks {
  def votes(o: Outcome, df: DataFrame, m: Model, table: String = "votes"): Unit = {
    val got = df.select("authorperm", "token", "voter", "timestamp", "rshares", "percent")
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2)) ->
          m.VoteM(r.getTimestamp(3).getTime / 1000,
            r.getDecimal(4).longValueExact(), r.getShort(5).toInt)
      }
    o.check(got.length == m.votes.size, s"$table: ${got.length} rows, model ${m.votes.size}")
    o.check(got.toMap == m.votes.toMap, s"$table: values differ from the model (" +
      got.filterNot { case (k, v) => m.votes.get(k).contains(v) }.take(2).mkString(",") + ")")
  }

  def follows(o: Outcome, df: DataFrame, m: Model, table: String = "follows"): Unit = {
    val got = df.select("follower", "following", "state").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getShort(2))
    o.check(got.length == m.follows.size, s"$table: ${got.length} rows, model ${m.follows.size}")
    o.check(got.toMap == m.follows, s"$table: values differ from the model")
  }

  private def keys(df: DataFrame, a: String, b: String): Set[(String, String)] =
    df.select(a, b).collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** The folded prefix the sinks are seeded from, against the model. */
  def seeded(o: Outcome, st: graft.engine.EngineState, m: Model): Unit = {
    val posts = keys(st.posts, "authorperm", "token")
    o.check(posts == m.posts.keySet && st.posts.count() == m.posts.size,
      s"seeded posts: ${posts.size} keys, model ${m.posts.size}")
    votes(o, st.votes, m, "seeded votes")
    follows(o, st.follows, m, "seeded follows")
    val mutes = st.accounts.select("name", "symbol", "muted").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    o.check(mutes == m.mutes.toMap, s"seeded account mutes: ${mutes.size} rows, model ${m.mutes.size}")
  }
}
