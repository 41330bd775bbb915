package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.DeckKernel
import graft.sources.CardMetadata

/** Deck-archetype classifier: a priority rule cascade over card metadata,
  * first match wins (reference src/analysist/deck_type.py:85-152, features
  * precomputed at :38-82).
  *
  * Engine-native design: the cascade is one native expression
  * ([[graft.expressions.DeckKernel]] and its names-only form
  * [[graft.expressions.DeckType]]). The ~121-card metadata rides inside
  * the expression as hash lookups built once on the driver — no join, no
  * shuffle, no broadcast — and the cascade runs as one generated call per
  * deck. (A column formulation over literal maps looks constant-folded but
  * is not: `transform`/`filter`/`aggregate` run interpreted and every
  * lookup scans the literal map.)
  */
object Classifier {
  val Siege      = "Siege"
  val Bait       = "Bait"
  val Cycle      = "Cycle"
  val BridgeSpam = "Bridge Spam"
  val Beatdown   = "Beatdown"
  val Hybrid     = "Hybrid"

  /** The cascade (deck_type.py:89-152): Siege → Bait(≥3) → Cycle(4-cheapest
    * ≤9) → Bridge Spam(≥2) → Beatdown(tank ∧ avg≥3.5) → Hybrid; empty deck
    * → Hybrid (:97-98). Over `cardNames: array<string>`; the cascade of
    * [[graft.expressions.DeckKernel]], which the snapshot runs per side. */
  def classifyDeck(cardNames: Column, meta: CardMetadata.Meta): Column =
    DeckKernel.typeOf(cardNames, meta.deck)

  /** Generic rule-cascade helper: first predicate that fires labels the row
    * (`when`-chain, same shape Catalyst codegens for CASE WHEN). Used for
    * classifier-style segmentation over arbitrary tables. */
  def cascade(rules: Seq[(Column, String)], fallback: String): Column =
    rules.foldLeft(Option.empty[Column]) {
      case (None, (p, label))      => Some(when(p, label))
      case (Some(acc), (p, label)) => Some(acc.when(p, label))
    }.map(_.otherwise(fallback)).getOrElse(lit(fallback))
}
