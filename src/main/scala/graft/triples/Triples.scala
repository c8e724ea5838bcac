package graft.triples

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analysis.Interruptions
import graft.functions.TextFunctions
import graft.model.{InterruptionType, Pred}

/** Triple extraction — emits the typed `(subj, pred, obj)` Dataset that is the
  * canonical output unit of the pipeline (north rule), re-expressing the
  * reference's per-match Neo4j MERGE calls
  * (src/loaders/vlos_neo4j_loader.py:213-544) as declarative unions.
  *
  * Node-key convention: keys are namespaced (`persoon:P03`, `conv:c17`,
  * `zaak:Z36001-2`, `fractie:F05`, `mention:<md5>`, `vote:<md5>`) so one
  * string column carries (label, business key) — the reference's
  * (label, key-prop) pair (src/utils/helpers.py:13-27). Synthetic IDs are
  * content-stable md5 (the reference's process-salted Python `hash` is a
  * documented non-determinism we deliberately fix — SURVEY.md §7.4 / F13).
  *
  * Triples are derived once, in the coded form of `allNonMentionCompact`
  * (raw ids plus a pred→prefix table); the string triple set is a `decode`
  * view of it. Scale: every branch is a narrow projection over
  * already-linked rows; the only join is a broadcast dim join for
  * vote→fractie (J12). `unionByName` of the branches introduces no shuffle
  * of its own.
  */
object Triples {

  private val P = "persoon:"
  private val C = "conv:"
  private val F = "fractie:"

  private def persoonKey = concat(lit(P), col("persoon_id"))
  private def convKey = concat(lit(C), col("conv_id"))

  /** Projection to (subj, pred, obj) without dedup — for branches whose
    * input is already unique per output key (one linker row per mention /
    * one vote per turn): no `distinct`, no shuffle.
    */
  private def triRaw(subj: Column, pred: String, obj: Column)(df: DataFrame): DataFrame =
    df.select(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))

  /** Mention provenance: VlosSpeaker-node MATCHES_PERSOON edge
    * (reference vlos_neo4j_loader.py:239-258).
    */
  def mentionMatches(linkedPersons: DataFrame): DataFrame =
    // linker emits exactly one row per mention key (argmax rn=1), so the
    // mention-keyed triple is unique by construction — no dedup shuffle
    triRaw(
      concat(lit("mention:"), TextFunctions.stableId(
        col("conv_id"), col("turn_idx"), col("v_first"), col("v_last"))),
      Pred.MatchesPersoon, persoonKey)(linkedPersons)

  /** Vote triples: synthetic vote node per utterance, fractie resolved by
    * name (J12 — reference vlos_neo4j_loader.py:536-540). `fracties` is a
    * broadcast dim.
    */
  def votes(voteMentions: DataFrame, fracties: DataFrame): DataFrame = {
    val withId = voteMentions
      .join(broadcast(fracties.select(col("naam"), col("fractie_id"))),
        voteMentions("fractie_naam") === col("naam"))
      .withColumn("vote_key", concat(lit("vote:"), TextFunctions.stableId(
        col("conv_id"), col("turn_idx"), col("fractie_naam"), col("vote_norm"))))
    // ≤1 vote mention per turn and the vote key embeds (conv, turn, naam,
    // vote) — both branches unique by construction
    triRaw(convKey, Pred.HasFractieVote, col("vote_key"))(withId)
      .unionByName(
        triRaw(col("vote_key"), Pred.CastByFractie, concat(lit(F), col("fractie_id")))(withId))
  }

  /** The raw (pred, a, b) branch union in COMPACT ID SPACE, pre-dedup:
    * every non-vote branch emits the raw entity ids, and the namespaced key
    * strings are only built after the dedup from the pred→prefix table
    * (`compactVocab`). The linker output must carry the co-row zaak link
    * (`z_entity_id`/`z_match_type`, threaded through the argmax by
    * `Pipeline.build`), so the same-turn speaker×zaak co-occurrence is a
    * column reference — no join.
    */
  private def compactUnion(linkedPersons: DataFrame, linkedZaken: DataFrame,
      persons: DataFrame): DataFrame = {
    val speakers = linkedPersons
      .select(col("conv_id"), col("turn_idx"), col("persoon_id").as("speaker"))
    def compactTri(pred: Column, a: Column, b: Column)(df: DataFrame): DataFrame =
      df.select(pred.as("pred"), a.as("a"), b.as("b"))
    // SPOKE_IN + CONTAINS_SPEAKER + DISCUSSES from ONE scan of the linked
    // blocks: each linker row emits its 2-3 compact triples via an exploded
    // struct array instead of one scan per branch — at corpus scale the
    // repeated block scans are pure memory traffic. The third struct's pred
    // is NULL when the row carries no zaak link; those sentinel rows are
    // filtered right after the explode.
    val linkedTris = linkedPersons.select(explode(array(
        struct(lit(Pred.SpokeIn).as("pred"),
          col("persoon_id").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.ContainsSpeaker).as("pred"),
          col("conv_id").as("a"), col("persoon_id").as("b")),
        struct(when(col("z_entity_id").isNotNull,
          when(col("z_match_type") === graft.model.MatchType.Exact, Pred.DiscussesZaak)
            .otherwise(Pred.DiscussesDossier)).as("pred"),
          col("persoon_id").as("a"), col("z_entity_id").as("b")))).as("t"))
      .select(col("t.pred").as("pred"), col("t.a").as("a"), col("t.b").as("b"))
      .where(col("pred").isNotNull)
    val events = Interruptions.detect(speakers)
    // ONE pass over the interruption events for all three predicates: the
    // three per-branch forms each re-planned the per-conversation
    // sort+window subtree (3× the window work inside the consuming job);
    // exploding an array of (pred, a, b) structs emits the same rows from
    // a single window pass
    val interruptionTris = events.select(explode(when(
      col("itype") === InterruptionType.WithResponse,
      array(
        struct(lit(Pred.InterruptedIn).as("pred"),
          col("interrupter").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.WasInterruptedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.RespondedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b"))))
      .otherwise(array(
        struct(lit(Pred.InterruptedIn).as("pred"),
          col("interrupter").as("a"), col("conv_id").as("b")),
        struct(lit(Pred.WasInterruptedIn).as("pred"),
          col("interrupted").as("a"), col("conv_id").as("b"))))).as("t"))
      .select(col("t.pred").as("pred"), col("t.a").as("a"), col("t.b").as("b"))
    linkedTris
      .unionByName(compactTri(lit(Pred.ContainsZaak), col("conv_id"), col("entity_id"))(
        linkedZaken.where(col("entity_id").isNotNull)))
      .unionByName(compactTri(lit(Pred.MemberOf), col("persoon_id"), col("fractie_id"))(persons))
      .unionByName(interruptionTris)
  }

  /** The closed (pred, subj_pre, obj_pre) vocabulary of compact triple rows
    * — the ONE pred→prefix table. The prefix pair is a FUNCTION of the
    * predicate (mention/vote rows carry full keys with empty prefixes), so
    * a (pred, a, b) dedup is exactly the string-space dedup, and
    * `Materialize.alignedDedupCoded` can dictionary-encode the whole string
    * triple to one small int for the write-aligned exchange.
    */
  val compactVocab: Seq[(String, String, String)] = Seq(
    (Pred.SpokeIn, P, C),
    (Pred.DiscussesZaak, P, "zaak:"),
    (Pred.DiscussesDossier, P, "zaak:"),
    (Pred.InterruptedIn, P, C),
    (Pred.WasInterruptedIn, P, C),
    (Pred.RespondedIn, P, C),
    (Pred.MemberOf, P, F),
    (Pred.ContainsSpeaker, C, P),
    (Pred.ContainsZaak, C, "zaak:"),
    (Pred.HasFractieVote, "", ""),
    (Pred.CastByFractie, "", ""),
    (Pred.MatchesPersoon, "", ""))

  /** A column that picks `mk(prefix)` for the row's subject or object
    * prefix (`field` of its `compactVocab` entry): one branch per DISTINCT
    * prefix value, the largest group as the `otherwise` — the 12-entry
    * vocabulary collapses to 3 subject / 5 object prefixes, so a row costs
    * 2-4 comparisons instead of 12. `member(codes)` tests whether the row's
    * vocabulary index is one of `codes`.
    */
  private[graft] def byPrefix(field: ((String, String, String)) => String,
      member: Seq[Int] => Column)(mk: String => Column): Column = {
    val groups = compactVocab.indices.groupBy(i => field(compactVocab(i)))
      .toSeq.sortBy(_._2.size)
    groups.init.foldRight(mk(groups.last._1)) { case ((pre, codes), acc) =>
      when(member(codes), mk(pre)).otherwise(acc)
    }
  }

  private def prefixCol(field: ((String, String, String)) => String): Column =
    byPrefix(field, codes => col("pred").isin(codes.map(compactVocab(_)._1): _*))(lit(_))

  /** The full non-mention triple derivation in CODED form: one row per raw
    * (pred, a, b) occurrence (NO dedup exchange here) plus the namespace
    * prefixes from `compactVocab` as data columns. Vote triples (unique by
    * construction, predicate-disjoint) carry their full key strings with
    * empty prefixes, so `concat(pre, id)` is the final key for every row.
    * Consumers dedup: `Materialize.writeGraph` inside its write-aligned
    * exchange, `decode` for the string view. The mention branch is left
    * out because it always self-loops away under canonicalization (see
    * `Canonicalize.rewriteCompact`).
    */
  def allNonMentionCompact(linkedPersons: DataFrame, linkedZaken: DataFrame,
      voteMentions: DataFrame, persons: DataFrame, fracties: DataFrame): DataFrame =
    compactUnion(linkedPersons, linkedZaken, persons)
      .unionByName(votes(voteMentions, fracties)
        .select(col("pred"), col("subj").as("a"), col("obj").as("b")))
      .select(col("pred"), col("a"), col("b"),
        prefixCol(_._2).as("subj_pre"), prefixCol(_._3).as("obj_pre"))

  /** The string (subj, pred, obj) view of coded rows: distinct, then
    * `concat(prefix, id)`. The prefixes are functions of the predicate, so
    * the coded distinct is the string-space distinct.
    */
  def decode(compact: DataFrame): DataFrame =
    compact.distinct().select(
      concat(col("subj_pre"), col("a")).as("subj"), col("pred"),
      concat(col("obj_pre"), col("b")).as("obj"))

  /** The full triple set, mention provenance included. Inputs are the
    * upstream stage outputs; dims are the dictionary DataFrames. (The
    * mention branch is unique by construction and disjoint from the rest by
    * predicate, so the union needs no further dedup.)
    */
  def all(linkedPersons: DataFrame, linkedZaken: DataFrame,
      voteMentions: DataFrame, persons: DataFrame, fracties: DataFrame): DataFrame =
    mentionMatches(linkedPersons)
      .unionByName(decode(
        allNonMentionCompact(linkedPersons, linkedZaken, voteMentions, persons, fracties)))
}
