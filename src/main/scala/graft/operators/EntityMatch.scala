package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy record linkage — find pairs of records whose names are within
  * a small edit distance, without a cross join. This is the entity-
  * resolution primitive (duplicate customer records, near-identical
  * author strings, mis-keyed ids) that a curation pipeline runs before
  * any per-entity aggregate can be trusted.
  *
  * Blocking is the whole game at scale: naive fuzzy matching is
  * O(n²) levenshtein calls. For edit distance ≤ 1 there is an EXACT
  * candidate generator — the deletion neighborhood (FastSS / SymSpell
  * family): emit, for every string, the string itself plus each
  * delete-one-character variant. Two strings within edit distance 1
  * ALWAYS share a key:
  *
  *  - equal strings share the identity key;
  *  - a substitution at position i: deleting position i from both
  *    sides yields the same string;
  *  - an insertion/deletion: deleting the inserted character from the
  *    longer side yields the shorter side's identity key.
  *
  * So candidates = a self-equi-join on the exploded key column — a
  * plain shuffle join Catalyst handles like any other, followed by one
  * `levenshtein` filter to drop the (few) false candidates a shared
  * key admits. Cost: |rows| × (len+1) key rows into the shuffle, then
  * per-bucket pairs; a deletion key of length L−1 is shared by at most
  * |alphabet|·L strings that could exist, so buckets are bounded and
  * there is no quadratic blow-up unless the DATA is one giant
  * near-duplicate class (in which case the output itself is
  * quadratic). Distances ≥ 2 need |Σ|^d-sized neighborhoods — that
  * regime belongs to the n-gram/MinHash family next door
  * ([[Dedup.ngramJaccardPairs]]), which trades exactness for a banded
  * equi-join; this operator is the EXACT short-range complement.
  *
  * Reference analogue: the trip matcher's exact-key equality join
  * (lambda2.py:66-109) assumes clean keys; this is the operator you
  * run when keys are typed by humans.
  */
object EntityMatch {

  /** All pairs `(id_a, id_b)` with `id_a < id_b` whose `nameCol`
    * values are within edit distance 1, via deletion-neighborhood
    * blocking. Output: (id_a, id_b, name_a, name_b, dist), dist an
    * INT (0 = identical names on distinct ids).
    *
    * The verify step exploits WHICH key matched (the round-9 cost
    * decomposition: on the name corpus at sf0.1 the full-table
    * levenshtein filter was ~70% of a 6.2 s query — 1.46M calls —
    * while explode and join together were under 2 s; the three changes
    * below re-measure at 1.7–2.4 s for the identical 262,500 pairs).
    * With the deletion POSITION carried next to each key, many
    * candidates are provably within distance 1 with no edit-distance
    * call:
    *  - both sides used the SAME canonical position (identity/identity
    *    means the names are equal; delete-i/delete-i means they are
    *    the same variant with one character inserted at the same spot)
    *    → distance ≤ 1 by construction;
    *  - exactly one side used its identity key → the other name minus
    *    one character IS this name → distance ≤ 1 by construction;
    *  - only delete-i vs delete-j at i ≠ j can be a false candidate
    *    (true distance 2) → the one case that pays an edit distance,
    *    and it pays the THRESHOLD form (banded DP: O(len) at bound 1,
    *    not the O(len²) table).
    * Measured at sf0.1: key dedup cuts key rows 285k → 223.5k and
    * candidate pairs 1.46M → 0.98M (digit runs collapse), 0.77M pairs
    * still cross-position but each check is banded, and the surviving
    * set hits the pair-dedup exchange at exactly the 262.5k true pairs.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    // key 0 = the string itself; key i (1-based) = delete position i.
    // Deleting any character of a same-character RUN yields the same
    // variant, so keys are deduped per string to their CANONICAL (min)
    // position — "Customer#000000001"-style digit runs otherwise emit
    // the same key 6 times and multiply candidate pairs 36-fold per
    // colliding run. Canonical-min keeps the position guarantee intact:
    // equal canonical positions still mean "same insertion point into
    // the shared variant", hence distance ≤ 1.
    // materialized once: both self-join sides scan it, and its lineage
    // (scan + explode + dedup aggregate) would otherwise run twice
    val keyed = Materialize.shared(
      df.select(col(idCol).as("_id"), col(nameCol).as("_name"))
        .select(col("_id"), col("_name"), posexplode(expr(
          """transform(sequence(0, length(_name)),
            |  i -> if(i = 0, _name,
            |          concat(substring(_name, 1, i - 1),
            |                 substring(_name, i + 1, length(_name)))))"""
            .stripMargin)).as(Seq("_p", "_k")))
        .groupBy(col("_id"), col("_name"), col("_k"))
        .agg(min(col("_p")).as("_p")))
    val a = keyed.select(col("_id").as("id_a"), col("_name").as("name_a"),
      col("_p").as("_pa"), col("_k"))
    val b = keyed.select(col("_id").as("id_b"), col("_name").as("name_b"),
      col("_p").as("_pb"), col("_k"))
    // verify BEFORE the distinct: dropping false candidates first means
    // the dedup exchange carries only true pairs (each duplicated at
    // most a handful of times by multi-key sharing), not the full
    // candidate set.
    // threshold levenshtein (banded DP, early exit): O(len) for
    // threshold 1 instead of the full O(len²) table — returns -1 when
    // the distance exceeds the bound, so "within 1" is ">= 0"
    a.join(b, Seq("_k"))
      .filter(col("id_a") < col("id_b") &&
        (col("_pa") === col("_pb") || col("_pa") === 0 || col("_pb") === 0 ||
          levenshtein(col("name_a"), col("name_b"), 1) >= 0))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"))
      .distinct() // a pair can share several deletion keys — keep one
      // every surviving pair is within distance 1 by the filter above,
      // so dist is just the equality bit — no per-row edit distance
      .withColumn("dist",
        when(col("name_a") === col("name_b"), 0).otherwise(1).cast("int"))
  }
}
