package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

/** The analyst queries over a written snapshot: the reference's four
  * canned queries at the current `player_decks` grain (SURVEY §2.12.1)
  * and two archetype drill-downs. Each instance is one query with its
  * parameters bound, over one temp view per warehouse table. */
object Analyst {
  final case class Instance(query: String, param: String, sql: String)

  val DeckTypes: Seq[String] = {
    import graft.operators.Classifier._
    Seq(Siege, Bait, Cycle, BridgeSpam, Beatdown, Hybrid)
  }

  private def winRate(w: String, u: String) = s"ROUND(100.0 * $w / NULLIF($u, 0), 2)"

  val instances: IndexedSeq[Instance] = {
    val canned = Seq(
      Instance("top_deck_types", "",
        s"""SELECT d.deck_type, SUM(pd.uses) AS uses, SUM(pd.wins) AS wins,
           |  ${winRate("SUM(pd.wins)", "SUM(pd.uses)")} AS win_rate
           |FROM player_decks pd JOIN decks d ON pd.deck_hash = d.deck_hash
           |GROUP BY d.deck_type ORDER BY uses DESC, d.deck_type LIMIT 30""".stripMargin),
      Instance("top_cards_overall", "",
        s"""SELECT c.card_id, c.card_name, COUNT(*) AS appearances
           |FROM deck_cards dc JOIN cards c ON dc.card_id = c.card_id
           |GROUP BY c.card_id, c.card_name
           |ORDER BY appearances DESC, c.card_id LIMIT 50""".stripMargin),
      Instance("player_summary", "",
        s"""SELECT p.player_tag, p.player_name, p.trophies,
           |  COUNT(pd.deck_hash) AS decks_seen, COALESCE(SUM(pd.uses), 0) AS uses
           |FROM player p LEFT JOIN player_decks pd ON p.player_tag = pd.player_tag
           |GROUP BY p.player_tag, p.player_name, p.trophies
           |ORDER BY p.trophies DESC, p.player_tag LIMIT 50""".stripMargin))
    val topDecks = Seq(1, 3).map(minUses => Instance("top_decks", s"min_uses=$minUses",
      s"""SELECT pd.deck_hash, d.deck_type, SUM(pd.uses) AS uses, SUM(pd.wins) AS wins,
         |  ${winRate("SUM(pd.wins)", "SUM(pd.uses)")} AS win_rate
         |FROM player_decks pd JOIN decks d ON pd.deck_hash = d.deck_hash
         |GROUP BY pd.deck_hash, d.deck_type HAVING SUM(pd.uses) >= $minUses
         |ORDER BY uses DESC, win_rate DESC, pd.deck_hash LIMIT 50""".stripMargin))
    val drill = DeckTypes.flatMap(t => Seq(
      Instance("meta_type_cards", t,
        s"""SELECT card_id, card_variant, uses, wins, ${winRate("wins", "uses")} AS win_rate
           |FROM meta_type_cards WHERE deck_type = '$t'
           |ORDER BY uses DESC, card_id, card_variant LIMIT 20""".stripMargin),
      Instance("meta_type_matchups", t,
        s"""SELECT opp_deck_type, uses, wins, ${winRate("wins", "uses")} AS win_rate
           |FROM meta_type_matchups WHERE deck_type = '$t'
           |ORDER BY uses DESC, opp_deck_type""".stripMargin)))
    (canned ++ topDecks ++ drill).toIndexedSeq
  }

  val queryNames: Seq[String] = instances.map(_.query).distinct.sorted

  /** The instances of each query: its parameter choices. */
  val byQuery: Map[String, IndexedSeq[Int]] = instances.indices.groupBy(instances(_).query)

  /** Order-insensitive hash of a result. */
  def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** One hash per query name over all its instances, for pinning. */
  def perQuery(byInstance: IndexedSeq[String]): Map[String, String] =
    instances.indices.groupBy(i => instances(i).query).map { case (q, ix) =>
      val md = MessageDigest.getInstance("SHA-1")
      ix.sortBy(i => instances(i).param).foreach(i =>
        md.update(s"${instances(i).param}=${byInstance(i)}\n".getBytes("UTF-8")))
      q -> md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    }

  def register(spark: SparkSession, views: Map[String, org.apache.spark.sql.DataFrame]): Unit =
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** Checks one pass of every instance against the generator's truth:
    * the per-type totals cover every TopN observation, and the six
    * matchup drill-downs every directed match. */
  def truthChecks(results: IndexedSeq[Array[Row]], truth: BattleGen.Truth): Seq[String] = {
    def column(query: String, c: Int): Seq[Long] =
      instances.indices.filter(instances(_).query == query).flatMap(i => results(i).map(_.getLong(c)))
    val topn = truth.playerDeckUses.values
    Seq(
      "top_deck_types: uses and wins = TopN observations" ->
        (column("top_deck_types", 1).sum == topn.map(_._1).sum &&
          column("top_deck_types", 2).sum == topn.map(_._2).sum),
      "meta_type_matchups: uses = 2 x matches" ->
        (column("meta_type_matchups", 1).sum == 2L * truth.matches))
      .collect { case (name, false) => name }
  }
}
