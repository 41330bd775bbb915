package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded battle-log generator: writes the three inputs of a snapshot
  * refresh (battle-log JSON lines in `Tables.battleSchema`, a leaderboard
  * and the 121-card metadata dimension) and returns its own ground truth,
  * computed while generating, for the output checks.
  *
  * Input mix per seed (shares are of battle lines):
  *  - ~30% are the other side of a match already in the file (two TopN
  *    players fetched the same match), so cross-side dedup has work;
  *  - ~12% are non-ranked modes and ~5% are 2v2, which the ranked-1v1
  *    filter drops;
  *  - ~1% carry a 7-card deck (the match is rejected) and ~1% carry cards
  *    without names (backfilled from the metadata by id, still valid).
  * Decks come from a seeded pool built per archetype, so every branch of
  * the classifier cascade fires.
  */
object BattleGen {

  final case class CardDef(id: Long, name: String, elixir: Int,
      tank: Boolean = false, bait: Boolean = false, bridge: Boolean = false)

  /** One deck: 8 distinct cards in slot order, with evolution levels. */
  final case class Deck(cards: Vector[CardDef], evo: Vector[Int]) {
    /** Order-free identity, the same string the checks derive from the
      * written `deck_cards` table. */
    val key: String = cards.indices
      .map(i => s"${cards(i).id}:${variant(evo(i))}").sorted.mkString(",")
  }

  def variant(evolutionLevel: Int): String = evolutionLevel match {
    case 1 => "evo"
    case 2 => "hero"
    case _ => "normal"
  }

  /** Ground truth of one generated input. */
  final case class Truth(
      lines: Int,
      ranked1v1Lines: Int,
      matches: Int,                                 // distinct kept ranked-1v1 matches
      decisiveMatches: Int,                         // kept matches that are not draws
      players: Int,                                 // leaderboard rows
      deckUses: Map[String, (Long, Long)],          // deck key → (uses, wins)
      playerDeckUses: Map[(String, String), (Long, Long)], // (tag, deck key) → (uses, wins)
      cardUses: Map[(Long, String), (Long, Long)],  // (card id, variant) → (uses, wins)
      cardNames: Map[Long, String])                 // card id → name, cards in kept decks

  final case class Inputs(battles: String, leaderboard: String, cards: String)

  private val named: Seq[CardDef] = {
    var id = 26000000L
    def c(n: String, e: Int, tank: Boolean = false, bait: Boolean = false,
        bridge: Boolean = false): CardDef = {
      id += 1; CardDef(id, n, e, tank, bait, bridge)
    }
    Seq(
      c("X-Bow", 6), c("Mortar", 4),
      c("Golem", 8, tank = true), c("Giant", 5, tank = true),
      c("Lava Hound", 7, tank = true), c("Electro Giant", 7, tank = true),
      c("Royal Giant", 6, tank = true), c("P.E.K.K.A", 7, tank = true),
      c("Mega Knight", 7, tank = true), c("Goblin Giant", 6, tank = true),
      c("Goblin Barrel", 3, bait = true), c("Princess", 3, bait = true),
      c("Goblin Gang", 3, bait = true), c("Dart Goblin", 3, bait = true),
      c("Rocket", 6, bait = true), c("The Log", 2, bait = true),
      c("Skeleton Army", 3, bait = true), c("Spear Goblins", 2, bait = true),
      c("Battle Ram", 4, bridge = true), c("Bandit", 3, bridge = true),
      c("Royal Ghost", 3, bridge = true), c("Ram Rider", 5, bridge = true),
      c("Dark Prince", 4, bridge = true), c("Prince", 5, bridge = true),
      c("Elite Barbarians", 6, bridge = true), c("Magic Archer", 4, bridge = true),
      c("Skeletons", 1), c("Ice Spirit", 1), c("Fire Spirit", 1),
      c("Electro Spirit", 1), c("Heal Spirit", 1), c("Ice Golem", 2),
      c("Bats", 2), c("Zap", 2), c("Goblins", 2), c("Wall Breakers", 2),
      c("Berserker", 2), c("Bomber", 2), c("Hog Rider", 4), c("Miner", 3),
      c("Knight", 3), c("Archers", 3), c("Musketeer", 4), c("Fireball", 4),
      c("Valkyrie", 4), c("Baby Dragon", 4), c("Wizard", 5), c("Witch", 5),
      c("Balloon", 5), c("Minions", 3), c("Mega Minion", 3),
      c("Inferno Tower", 5), c("Tesla", 4), c("Cannon", 3), c("Tornado", 3),
      c("Poison", 4), c("Lightning", 6), c("Earthquake", 3), c("Arrows", 3),
      c("Electro Wizard", 4), c("Night Witch", 4), c("Lumberjack", 4),
      c("Sparky", 6), c("Executioner", 5), c("Bowler", 5), c("Graveyard", 5),
      c("Clone", 3), c("Freeze", 4), c("Barbarians", 5), c("Royal Hogs", 5),
      c("Three Musketeers", 9), c("Firecracker", 3), c("Royal Delivery", 3),
      c("Skeleton Dragons", 4), c("Mother Witch", 4), c("Electro Dragon", 5),
      c("Hunter", 4), c("Fisherman", 3), c("Mighty Miner", 4), c("Monk", 5),
      c("Phoenix", 4), c("Little Prince", 3), c("Golden Knight", 4),
      c("Archer Queen", 5), c("Skeleton King", 4), c("Guards", 3),
      c("Ice Wizard", 3), c("Inferno Dragon", 4), c("Furnace", 4),
      c("Goblin Hut", 5), c("Bomb Tower", 4), c("Elixir Collector", 6),
      c("Tombstone", 3), c("Giant Skeleton", 6), c("Mini P.E.K.K.A", 4),
      c("Flying Machine", 4), c("Zappies", 4), c("Cannon Cart", 5),
      c("Battle Healer", 4), c("Royal Recruits", 7), c("Giant Snowball", 2),
      c("Barbarian Barrel", 2), c("Rage", 2), c("Goblin Drill", 4),
      c("Void", 3), c("Goblin Curse", 2), c("Electro Giant Spirit", 1))
  }

  /** The 121-card dimension: the named cards plus numbered fillers. Fixed
    * for every seed, like the reference's static metadata file. */
  val cards: Vector[CardDef] = {
    val base = named.toVector
    val start = base.last.id
    base ++ (1 to (121 - base.size)).map(i =>
      CardDef(start + i, f"Card $i%03d", 2 + (i * 7) % 6))
  }

  private val byName = cards.map(c => c.name -> c).toMap
  private def pick(names: String*): Vector[CardDef] = names.toVector.map(byName)

  private val siegeCore   = pick("X-Bow", "Mortar")
  private val tanks       = cards.filter(_.tank)
  private val baits       = cards.filter(_.bait)
  private val bridges     = cards.filter(_.bridge)
  private val cheap       = cards.filter(c => c.elixir <= 2 && !c.bait && !c.bridge)
  private val supportPool = cards.filter(c => !c.tank && !c.bait && !c.bridge &&
    c.name != "X-Bow" && c.name != "Mortar")

  private def sample(r: SplittableRandom, from: Vector[CardDef], n: Int,
      taken: Set[Long]): Vector[CardDef] = {
    val avail = mutable.ArrayBuffer(from.filterNot(c => taken(c.id)): _*)
    val out = Vector.newBuilder[CardDef]
    var k = 0
    while (k < n && avail.nonEmpty) {
      out += avail.remove(r.nextInt(avail.size)); k += 1
    }
    out.result()
  }

  /** One archetype-shaped deck: a core that steers the classifier, then
    * support cards up to 8. */
  private def makeDeck(r: SplittableRandom): Deck = {
    val u = r.nextDouble()
    val core =
      if (u < 0.10) sample(r, siegeCore, 1, Set.empty) ++ sample(r, cheap, 2, Set.empty)
      else if (u < 0.28) sample(r, baits, 3 + r.nextInt(2), Set.empty)
      else if (u < 0.45) sample(r, cheap, 4, Set.empty)
      else if (u < 0.60) sample(r, bridges, 2 + r.nextInt(2), Set.empty)
      else if (u < 0.82) sample(r, tanks, 1, Set.empty) ++
        sample(r, supportPool.filter(_.elixir >= 4), 3, Set.empty)
      else Vector.empty
    val fill = sample(r, supportPool, 8 - core.size, core.map(_.id).toSet)
    val deck = sample(r, core ++ fill, 8, Set.empty) // shuffled slot order
    val evo = Vector.tabulate(8) { i =>
      val v = r.nextDouble()
      if (i == 0 && v < 0.35) 1 else if (i == 1 && v < 0.20) 1
      else if (i == 2 && v < 0.05) 2 else 0
    }
    Deck(deck, evo)
  }

  private val tagAlphabet = "0289PYLQGRJCUV"
  private def tag(r: SplittableRandom): String =
    "#" + (1 to 9).map(_ => tagAlphabet.charAt(r.nextInt(tagAlphabet.length))).mkString

  private val battleTimeFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'.000Z'")
      .withZone(java.time.ZoneOffset.UTC)
  private val epoch0 = java.time.Instant.parse("2026-10-01T00:00:00Z")

  private final case class Side(tag: String, deck: Deck, crowns: Int,
      sevenCards: Boolean, nameless: Boolean)

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def sideJson(s: Side): String = {
    val n = if (s.sevenCards) 7 else 8
    val cs = (0 until n).map { i =>
      val c = s.deck.cards(i)
      val name = if (s.nameless) "" else s""","name":"${esc(c.name)}""""
      val evo = s.deck.evo(i)
      val lvl = if (evo > 0) s""","evolutionLevel":$evo""" else ""
      s"""{"id":${c.id}$name$lvl}"""
    }
    s"""{"tag":"${s.tag}","crowns":${s.crowns},"cards":[${cs.mkString(",")}]}"""
  }

  private def battleJson(time: String, modeId: Long, modeName: String,
      team: Seq[Side], opp: Seq[Side]): String =
    s"""{"battleTime":"$time","type":"PvP","gameMode":{"id":$modeId,"name":"$modeName"},""" +
      s""""team":[${team.map(sideJson).mkString(",")}],""" +
      s""""opponent":[${opp.map(sideJson).mkString(",")}]}"""

  private val Ranked = Seq(72000006L -> "Ladder", 72000464L -> "Ranked1v1_NewArena")
  private val Casual = Seq(72000010L -> "Challenge", 72000051L -> "Friendly")

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Generate one input set into `dir`: `players` TopN players with
    * `battlesPerPlayer` battle-log lines each. */
  def generate(seed: Long, dir: String, players: Int, battlesPerPlayer: Int)
      : (Inputs, Truth) = {
    new File(dir).mkdirs()
    val r = new SplittableRandom(seed)
    val pool = {
      val seen = mutable.LinkedHashMap.empty[String, Deck]
      while (seen.size < 2500) { val d = makeDeck(r); seen.getOrElseUpdate(d.key, d) }
      seen.values.toVector
    }
    // skewed popularity: low pool indices are the meta decks
    def poolDeck(): Deck = pool((pool.size * math.pow(r.nextDouble(), 2.2)).toInt)

    val tags = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < players) s += tag(r)
      s.toVector
    }
    val ownDecks = tags.map(_ => Vector.fill(1 + r.nextInt(3))(poolDeck()))
    def ownDeck(p: Int): Deck = ownDecks(p)(r.nextInt(ownDecks(p).size))

    val truthDeck = mutable.HashMap.empty[String, (Long, Long)]
    val truthPlayer = mutable.HashMap.empty[(String, String), (Long, Long)]
    val truthCard = mutable.HashMap.empty[(Long, String), (Long, Long)]
    val truthNames = mutable.HashMap.empty[Long, String]
    val topTags = tags.toSet
    def outsider(): String = { var t = tag(r); while (topTags(t)) t = tag(r); t }
    var matches, decisive, ranked1v1 = 0
    def add[K](m: mutable.HashMap[K, (Long, Long)], k: K, won: Boolean): Unit = {
      val (u, w) = m.getOrElse(k, (0L, 0L)); m(k) = (u + 1, w + (if (won) 1 else 0))
    }
    def recordMatch(a: Side, b: Side): Unit = {
      matches += 1
      if (a.crowns != b.crowns) decisive += 1
      Seq((a, a.crowns > b.crowns), (b, b.crowns > a.crowns)).foreach { case (s, won) =>
        add(truthDeck, s.deck.key, won)
        if (topTags(s.tag)) add(truthPlayer, (s.tag, s.deck.key), won)
        s.deck.cards.indices.foreach { i =>
          val c = s.deck.cards(i)
          add(truthCard, (c.id, variant(s.deck.evo(i))), won)
          truthNames(c.id) = c.name
        }
      }
    }
    def crowns(): (Int, Int) =
      if (r.nextDouble() < 0.05) { val c = r.nextInt(4); (c, c) }
      else {
        val w = 1 + r.nextInt(3)
        val l = r.nextInt(w)
        if (r.nextBoolean()) (w, l) else (l, w)
      }
    def defects(): (Boolean, Boolean) = {
      val u = r.nextDouble()
      (u < 0.01, u >= 0.01 && u < 0.02)
    }

    val perPlayer = Vector.fill(players)(mutable.ArrayBuffer.empty[String])
    var clock = 0L
    def nextTime(): String = {
      clock += 7 + r.nextInt(50)
      battleTimeFmt.format(epoch0.plusSeconds(clock))
    }
    val total = players * battlesPerPlayer
    // slots of the matches two TopN players both fetched (~30% of lines)
    val slots = mutable.ArrayBuffer.tabulate(players)(p => Vector.fill(battlesPerPlayer)(p)).flatten
    var i = slots.size - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t; i -= 1 }
    val mirrored = (total * 0.15).toInt
    var placed = 0
    var k = 0
    val single = mutable.ArrayBuffer.empty[Int]
    while (k + 1 < slots.size && placed < mirrored) {
      val (p, q) = (slots(k), slots(k + 1))
      if (p != q) {
        val (ca, cb) = crowns()
        val (seven, nameless) = defects()
        val (modeId, modeName) =
          if (r.nextDouble() < 0.12) Casual(r.nextInt(Casual.size)) else Ranked(r.nextInt(Ranked.size))
        val a = Side(tags(p), ownDeck(p), ca, seven, nameless)
        val b = Side(tags(q), ownDeck(q), cb, sevenCards = false, nameless = false)
        val t = nextTime()
        perPlayer(p) += battleJson(t, modeId, modeName, Seq(a), Seq(b))
        perPlayer(q) += battleJson(t, modeId, modeName, Seq(b), Seq(a))
        if (Ranked.exists(_._1 == modeId)) {
          ranked1v1 += 2
          if (!seven) recordMatch(a, b)
        }
        placed += 1
        k += 2
      } else { single += p; k += 1 }
    }
    single ++= slots.drop(k)
    single.foreach { p =>
      val u = r.nextDouble()
      val (seven, nameless) = defects()
      val (ca, cb) = crowns()
      val me = Side(tags(p), ownDeck(p), ca, seven, nameless)
      val opp = Side(outsider(), poolDeck(), cb, sevenCards = false, nameless = false)
      val t = nextTime()
      if (u < 0.05 / 0.70) {
        // 2v2: a whitelisted mode id, but two players a side
        val mate = Side(outsider(), poolDeck(), ca, sevenCards = false, nameless = false)
        val opp2 = Side(outsider(), poolDeck(), cb, sevenCards = false, nameless = false)
        perPlayer(p) += battleJson(t, 72000006L, "Ladder", Seq(me, mate), Seq(opp, opp2))
      } else if (u < 0.13 / 0.70) {
        val (modeId, modeName) = Casual(r.nextInt(Casual.size))
        perPlayer(p) += battleJson(t, modeId, modeName, Seq(me), Seq(opp))
      } else {
        val (modeId, modeName) = Ranked(r.nextInt(Ranked.size))
        perPlayer(p) += battleJson(t, modeId, modeName, Seq(me), Seq(opp))
        ranked1v1 += 1
        if (!seven) recordMatch(me, opp)
      }
    }

    val inputs = Inputs(s"$dir/battles.json", s"$dir/leaderboard.json", s"$dir/cards.json")
    writeLines(inputs.battles, perPlayer.iterator.flatMap(_.iterator))
    writeLines(inputs.leaderboard, tags.indices.iterator.map { p =>
      val trophies = 9000 - p * 3 - r.nextInt(3)
      s"""{"tag":"${tags(p)}","name":"Player ${p + 1}","rank":${p + 1},"trophies":$trophies}"""
    })
    writeLines(inputs.cards, Iterator("[") ++ cards.iterator.zipWithIndex.map { case (c, ix) =>
      val sep = if (ix + 1 < cards.size) "," else ""
      s"""{"id":${c.id},"name":"${esc(c.name)}","maxLevel":16,"elixir":${c.elixir},""" +
        s""""is_big_tank":${c.tank},"is_bait_piece":${c.bait},"is_bridge_spam_piece":${c.bridge}}$sep"""
    } ++ Iterator("]"))

    (inputs, Truth(total, ranked1v1, matches, decisive, players, truthDeck.toMap,
      truthPlayer.toMap, truthCard.toMap, truthNames.toMap))
  }
}
