package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column expressions for the reference's row-level semantics.
  * All are pure `org.apache.spark.sql.functions` compositions — no UDFs —
  * so they stay inside whole-stage codegen and are Catalyst-foldable.
  */
object DomainFunctions {

  /** Tag normalization: trim, uppercase, ensure a leading '#'; null/empty → "".
    * Reference scripts/etl_snapshot_topn.py:32-36 (dup at src/api/battles.py:6-17). */
  def normalizeTag(tag: Column): Column = {
    val t = upper(trim(coalesce(tag, lit(""))))
    when(t === "", "").otherwise(
      when(t.startsWith("#"), t).otherwise(concat(lit("#"), t)))
  }

  /** Ladder value: `trophies ?? eloRating ?? 0` (leaderboard returns eloRating).
    * Reference scripts/etl_snapshot_topn.py:39-47. Python `or` treats 0 as
    * missing, so 0-valued trophies fall through — reproduced via nullif. */
  def ladderValue(trophies: Column, eloRating: Column): Column =
    coalesce(nullif(trophies.cast("int"), lit(0)),
      nullif(eloRating.cast("int"), lit(0)), lit(0))

  /** Card variant from evolutionLevel: 1→evo, 2→hero, else normal.
    * Reference scripts/etl_snapshot_topn.py:50-66. */
  def cardVariant(evolutionLevel: Column): Column =
    when(evolutionLevel === 1, "evo")
      .when(evolutionLevel === 2, "hero")
      .otherwise("normal")

  /** Crown comparison → "win" | "loss" | "draw" (strict >).
    * Reference src/analysist/battle_filters.py:38-49. */
  def battleResult(teamCrowns: Column, oppCrowns: Column): Column = {
    val tc = coalesce(teamCrowns, lit(0))
    val oc = coalesce(oppCrowns, lit(0))
    when(tc > oc, "win").when(tc < oc, "loss").otherwise("draw")
  }

  /** Per-participant win flag: strictly more crowns; draw = not-win.
    * Reference scripts/etl_snapshot_topn.py:111-137. */
  def isWin(myCrowns: Column, theirCrowns: Column): Column =
    coalesce(myCrowns, lit(0)) > coalesce(theirCrowns, lit(0))
}
