package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-resolution primitives: fuzzy key matching via neighborhood
  * blocking. The reference engine has no analogue (capability-parity
  * surface, SURVEY.md §2.5); the shapes here are the standard
  * record-linkage blocking designs re-expressed as Spark equi-joins.
  */
object Entity {

  def defs: Seq[QueryDef] = Seq(q103, q179, q204)

  /** Fuzzy key self-join: all pairs of rows whose `nameCol` values are
    * within edit distance 1, WITHOUT a cross join. Blocking: each name
    * emits one wildcard variant per character position (position i
    * replaced by '*'); two equal-length names at Hamming distance 1
    * share exactly one variant, so an equi-join on (position, variant)
    * finds every such pair exactly once. For equal-length strings
    * levenshtein ≤ 1 ⇔ Hamming ≤ 1 (an insert+delete pair already
    * costs 2), so on a fixed-width key column this blocking is EXACT —
    * the levenshtein filter afterwards is a guard, not a recall fix.
    * Variable-length keys would add the deletion neighborhood (drop
    * position i) to catch insert/delete edits — same join shape.
    *
    * Scale: candidate volume is len(name) keyed rows per input row,
    * joined hash-partitioned on the variant string — linear-ish with a
    * ~len× expansion, vs the O(n²) cross join the naive form plans.
    * Variant keys inherit the key column's distribution; a hot block
    * (e.g. a default/placeholder name) would need the q48 salting
    * treatment.
    */
  def fuzzyKeyPairs(df: DataFrame, keyCol: String, nameCol: String): DataFrame = {
    val keyed = df
      .select(col(keyCol).as("k"), col(nameCol).cast("string").as("name"))
      .select(col("k"), col("name"), posexplode(expr(
        """transform(sequence(1, length(name)),
          |  i -> concat(substring(name, 1, i - 1), '*',
          |              substring(name, i + 1, length(name))))""".stripMargin))
        .as(Seq("pos", "variant")))
      // persisted: keyed feeds BOTH self-join sides — left lazy, the
      // variant explosion runs once per alias (the semanticDedupGridL2 rule;
      // Verify/Bench clear the cache between queries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keyed.as("a").join(keyed.as("b"),
        col("a.pos") === col("b.pos") &&
          col("a.variant") === col("b.variant") &&
          col("a.k") < col("b.k"))
      .filter(levenshtein(col("a.name"), col("b.name")) <= 1)
      // Hamming-1 pairs share exactly ONE variant, but IDENTICAL names
      // share all of them — canonicalize those to the first position so
      // every pair emits one row without a distinct shuffle.
      .filter(col("a.name") =!= col("b.name") || col("a.pos") === 0)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
  }

  /** Variable-length fuzzy key self-join: all pairs within levenshtein
    * distance 1 INCLUDING insert/delete edits. Blocking key = the
    * DELETION NEIGHBORHOOD (the name itself plus every
    * drop-one-character variant): two strings at edit distance ≤ 1
    * always share a deletion-neighborhood string —
    *   substitution at i: both drop position i → same string;
    *   insertion/deletion:  the longer string drops the inserted char
    *   → the shorter string itself.
    * So an equi-join on the neighborhood key has FULL recall for
    * d ≤ 1 (FastSS, Bocek et al. 2007); the exact levenshtein filter
    * removes the false candidates (distance-2 pairs can collide on a
    * key, e.g. swap-adjacent). One row may reach a true pair through
    * several shared keys — the final distinct canonicalizes. len+1
    * keyed rows per input row; same linear-ish shape as the
    * fixed-width form above.
    */
  def fuzzyKeyPairsVarLen(df: DataFrame, keyCol: String,
      nameCol: String): DataFrame = {
    // r16: the r15 xxhash64(variant) re-key was REVERTED on A/B — the
    // deletion variants of these short keys are ≤ a dozen bytes, so
    // the 8-byte hash saved no exchange bytes while adding a
    // projection and a wider collision candidate set; the driver bench
    // showed all three fuzzy-join queries slower (q179 ×0.84).
    //
    // r16 positional prune (the full FastSS form — Bocek et al. 2007
    // store deletion positions precisely for this; guide §1.2 "fix the
    // algorithm first"): each variant carries its DROP POSITION
    // (0 = the undropped name). A true d ≤ 1 pair always shares a
    // qualifying variant —
    //   substitution at i: both drop i  → pos_a = pos_b = i;
    //   insert/delete:     the longer name's drop equals the shorter
    //                      name itself → one side has pos 0 —
    // so requiring (pos_a = pos_b OR pos_a = 0 OR pos_b = 0) keeps
    // recall intact while pruning the d = 2 collisions (transpositions
    // etc., the bulk of the candidate volume: profiled 4.2 s of
    // per-candidate levenshtein at sf0.1) with two integer compares
    // BEFORE the levenshtein runs. The exact filter stays the arbiter.
    // No array_union dedup: duplicate variant strings from equal-char
    // runs keep their distinct real positions (dedup would record only
    // the first drop position and could break the recall argument);
    // `distinct` canonicalizes multi-hit pairs as before.
    val keyed = df
      .select(col(keyCol).as("k"), col(nameCol).cast("string").as("name"))
      .select(col("k"), col("name"), posexplode(expr(
        """transform(sequence(0, length(name)),
          |  i -> IF(i = 0, name,
          |          concat(substring(name, 1, i - 1),
          |                 substring(name, i + 1, length(name)))))""".stripMargin))
        .as(Seq("pos", "variant")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keyed.as("a").join(keyed.as("b"),
        col("a.variant") === col("b.variant") &&
          (col("a.pos") === col("b.pos") ||
            col("a.pos") === 0 || col("b.pos") === 0) &&
          col("a.k") < col("b.k") &&
          levenshtein(col("a.name"), col("b.name")) <= 1)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
  }

  /** Edit-distance ≤ 2 fuzzy self-join: FastSS deletion neighborhoods
    * at depth 2 — every string emits itself, all drop-one variants, and
    * all drop-two variants (i < j). Two strings within levenshtein
    * d ≤ 2 always share a depth-2 neighborhood member (Bocek et al.
    * 2007: delete the edited positions on each side), so the equi-join
    * on the variant string has FULL recall; the exact levenshtein ≤ 2
    * filter drops false candidates and `distinct` canonicalizes pairs
    * reached through several shared variants.
    *
    * Scale: ~len²/2 keyed rows per input (66 at len 12) — quadratic in
    * KEY LENGTH, linear in rows, vs the O(n²)-in-ROWS cross join. The
    * depth-k generalization trades neighborhood size len^k/k! for
    * distance k; beyond d≈2 on long strings, switch to q-gram count
    * filtering instead.
    */
  def fuzzyKeyPairsD2(df: DataFrame, keyCol: String,
      nameCol: String): DataFrame = {
    // r16: same revert as [[fuzzyKeyPairsVarLen]] — the hashed
    // blocking key lost its A/B on short name variants
    val keyed = df
      .select(col(keyCol).as("k"), col(nameCol).cast("string").as("name"))
      .select(col("k"), col("name"), explode(expr(
        """array_union(
          |  array_union(array(name),
          |    transform(sequence(1, length(name)),
          |      i -> concat(substring(name, 1, i - 1),
          |                  substring(name, i + 1, length(name))))),
          |  flatten(transform(sequence(1, length(name) - 1),
          |    i -> transform(sequence(i + 1, length(name)),
          |      j -> concat(substring(name, 1, i - 1),
          |                  substring(name, i + 1, j - i - 1),
          |                  substring(name, j + 1, length(name)))))))""".stripMargin))
        .as("variant"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keyed.as("a").join(keyed.as("b"),
        col("a.variant") === col("b.variant") && col("a.k") < col("b.k"))
      .filter(levenshtein(col("a.name"), col("b.name")) <= 2)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
  }

  /** q204: distance-≤2 customer-name pairs (the typo radius real
    * entity-resolution runs at), hash-checked — pairs plus the exact
    * distance — against DuckDB's quadratic levenshtein join on the
    * same slice.
    */
  val q204: QueryDef = QueryDef.checked(
    "q204_fuzzy_join_d2",
    """WITH c AS (
      |  SELECT c_custkey, 'Customer#' || CAST(c_custkey AS VARCHAR) AS nm
      |  FROM customer WHERE c_custkey < 500)
      |SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |  levenshtein(a.nm, b.nm) AS dist
      |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.nm, b.nm) <= 2
      |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_custkey") < 500)
      .select(col("c_custkey"),
        concat(lit("Customer#"), col("c_custkey").cast("string")).as("nm"))
    fuzzyKeyPairsD2(c, "c_custkey", "nm")
      .select(col("key_a"), col("key_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** q103: near-identical customer names (single-digit typos of the
    * zero-padded key suffix) among the first 500 customers, hash-checked
    * against DuckDB's naive levenshtein cross join — same pair set, but
    * the engine plans an equi-join on wildcard blocks instead of the
    * quadratic nested loop.
    */
  val q103: QueryDef = QueryDef.checked(
    "q103_fuzzy_key_join",
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |  a.c_name AS name_a, b.c_name AS name_b
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |WHERE a.c_custkey < 500 AND b.c_custkey < 500
      |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
    fuzzyKeyPairs(
      Tables.customer(s, d).filter(col("c_custkey") < 500),
      "c_custkey", "c_name")
      .orderBy(col("key_a"), col("key_b"))
  }

  /** q179: the VARIABLE-LENGTH fuzzy join under the oracle — the FastSS
    * deletion-neighborhood blocking ([[fuzzyKeyPairsVarLen]]) on an
    * unpadded key corpus (`'Customer#' || c_custkey`), where single-digit
    * append/drop edits really occur (≈20% of the true pairs differ in
    * LENGTH at sf0.01), so the insert/delete half of the recall argument
    * is exercised by data, not just by the proof. Hash-checked pair for
    * pair (plus the exact distance) against DuckDB's levenshtein cross
    * join — the engine plans |name|+1 keyed rows per input and one
    * equi-join on the neighborhood string instead of the O(n²) loop.
    */
  val q179: QueryDef = QueryDef.checked(
    "q179_fuzzy_join_varlen",
    """WITH n AS (SELECT c_custkey AS k, 'Customer#' || c_custkey AS name
      |  FROM customer)
      |SELECT a.k AS key_a, b.k AS key_b, a.name AS name_a, b.name AS name_b,
      |  levenshtein(a.name, b.name) AS dist
      |FROM n a JOIN n b
      |  ON a.k < b.k AND levenshtein(a.name, b.name) <= 1
      |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
    val named = Tables.customer(s, d)
      .select(col("c_custkey"),
        concat(lit("Customer#"), col("c_custkey").cast("string")).as("name"))
    fuzzyKeyPairsVarLen(named, "c_custkey", "name")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .orderBy(col("key_a"), col("key_b"))
  }
}
