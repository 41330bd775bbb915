package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.{AsciiEscape, MatchSide}

/** Deck / match identity hashing, byte-compatible with the reference
  * (src/clashdb/hash_utils.py). No UDFs: the match hashes are built from
  * built-ins plus the native [[graft.expressions.MatchSide]] side payload,
  * all inside whole-stage codegen; the deck signature here is the column
  * form (`transform`/`array_sort`, which Spark runs interpreted) — the
  * snapshot computes the same bytes natively in
  * [[graft.expressions.DeckKernel]]. Pure per-row work, no shuffle.
  */
object Hashing {

  /** Canonical deck signature: sort (card_id, variant) pairs as *strings*,
    * lexicographically, and render "id:variant|id:variant|…".
    * Reference src/clashdb/hash_utils.py:11-22 — note the Python sorts the
    * STRING form of card_id ("10001" < "26000"), reproduced by casting to
    * string before array_sort (struct ordering is field-by-field).
    *
    * @param pairs array<struct<_1: card_id (any), _2: variant string>>
    */
  def canonicalDeckSignature(pairs: Column): Column = {
    val normalized = transform(pairs, p =>
      struct(p.getField("_1").cast("string").as("cid"),
             p.getField("_2").cast("string").as("variant")))
    array_join(
      transform(array_sort(normalized),
        p => concat_ws(":", p.getField("cid"), p.getField("variant"))),
      "|")
  }

  /** sha1 hex of the utf-8 signature — bit-identical to Python
    * `hashlib.sha1(sig.encode()).hexdigest()` (hash_utils.py:25-26). */
  def deckHashFromSignature(sig: Column): Column = sha1(sig)

  /** Deck hash straight from an array<struct<card_id, card_variant>>. */
  def deckHash(pairs: Column): Column = deckHashFromSignature(canonicalDeckSignature(pairs))

  /** Match-dedup hash, stable across both players' battlelogs.
    * Reference src/clashdb/hash_utils.py:29-65: sha1 of the compact
    * sorted-key JSON
    * `{"battleTime":…,"mode":…,"opponent":[{"crowns":N,"tag":T}…],"team":[…]}`.
    *
    * Byte-compat notes:
    *  - Python `json.dumps(sort_keys=True, separators=(",",":"))` renders
    *    keys alphabetically with no whitespace; Spark `to_json` renders
    *    struct fields in declaration order with no whitespace, so we declare
    *    fields already alphabetical (battleTime < mode < opponent < team;
    *    crowns < tag).
    *  - `mode` = str(gameMode.id or gameMode.name or type or "") — Python
    *    `or` skips 0/""/null, reproduced with nullif+coalesce.
    *  - side payload participants are sorted by upper-cased tag; crowns
    *    coerced int(x or 0) ([[graft.expressions.MatchSide]]).
    *  - Python escapes non-ASCII (`ensure_ascii=True`) while `to_json`
    *    does not — closed by [[graft.expressions.AsciiEscape]] over the
    *    rendered JSON (every remaining non-ASCII char sits inside a string
    *    literal, exactly the set `ensure_ascii` escapes). ASCII payloads
    *    pass through byte-unchanged (zero-alloc fast path), so the escape
    *    costs nothing on the common case and a non-ASCII game-mode name
    *    hashes identically to the Python bytes (HashingSpec vector). */
  def matchHash(battleTime: Column, modeId: Column, modeName: Column,
                battleType: Column, team: Column, opponent: Column): Column = {
    val modeKey = coalesce(
      nullif(modeId.cast("string"), lit("0")),
      nullif(coalesce(modeName, lit("")), lit("")),
      nullif(coalesce(battleType, lit("")), lit("")),
      lit(""))
    val payload = struct(
      coalesce(battleTime, lit("")).as("battleTime"),
      modeKey.as("mode"),
      MatchSide(opponent).as("opponent"),
      MatchSide(team).as("team"))
    sha1(AsciiEscape(to_json(payload)))
  }

  /** Orientation-insensitive match hash — the dedup key the reference
    * *documents* but does not implement: hash_utils.py:29-33 claims the
    * hash is "stable across both players' battlelogs", yet renders team
    * and opponent under distinct JSON keys, so the same match seen from
    * the two players' logs hashes differently and never dedups. We keep
    * [[matchHash]] byte-compatible with the reference and give the
    * pipeline this symmetric variant: each side renders to its canonical
    * JSON and the two strings are ordered lexicographically before
    * hashing, so either perspective produces identical bytes. */
  def symmetricMatchHash(battleTime: Column, modeId: Column, modeName: Column,
                         battleType: Column, team: Column, opponent: Column): Column = {
    def sideJson(side: Column): Column = to_json(MatchSide(side))
    val modeKey = coalesce(
      nullif(modeId.cast("string"), lit("0")),
      nullif(coalesce(modeName, lit("")), lit("")),
      nullif(coalesce(battleType, lit("")), lit("")),
      lit(""))
    val a = sideJson(team)
    val b = sideJson(opponent)
    sha1(AsciiEscape(concat_ws("|",
      coalesce(battleTime, lit("")), modeKey, least(a, b), greatest(a, b))))
  }

  /** Content hash for generic exact dedup (md5 hex — cheap, codegen'd,
    * and reproducible in any SQL engine for oracle checks). */
  def contentHash(c: Column): Column = md5(c.cast("string"))
}
