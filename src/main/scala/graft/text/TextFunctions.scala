package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis / dedup building blocks over the `documents` table
 * (SURVEY.md §2c; driver north-star "text analysis" + "dedup" operators).
 *
 * Every primitive here exists twice, generated from the SAME constants:
 *  - a Spark `Column` builder (codegen'd `org.apache.spark.sql.functions`
 *    higher-order functions — no UDFs, stays inside whole-stage codegen);
 *  - a DuckDB SQL fragment builder (`*Sql`) used by the oracle queries.
 * Both fold left-to-right with mod-at-every-step arithmetic, so results are
 * bit-identical across engines (and DuckDB never overflows its checked
 * BIGINT).
 *
 * Scale notes: all of these are per-row scalar expressions — embarrassingly
 * parallel, no shuffle, no driver involvement. The only shuffles in the
 * dedup pipelines built on top are the explode→groupBy joins, which shuffle
 * by shingle/band/bucket — the standard scalable formulation (no O(n²)
 * cross join anywhere).
 */
object TextFunctions {

  /** Modulus for the polynomial string hash (prime, < 2^30 so a*h+b stays
    * well under 2^63 in the MinHash family). */
  val HashP: Long = 1000000007L

  /** MinHash family size and LSH banding (32 hashes = 8 bands x 4 rows:
    * candidate-pair probability at Jaccard j is 1-(1-j^4)^8 — steep S-curve
    * around j≈0.5, our dedup threshold). */
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand: Int = NumHashes / NumBands

  /** Deterministic per-hash affine params (a_i odd, both < HashP) — derived in
    * [[graft.functions.MinHashSignature]] (Knuth's multiplicative constant),
    * the single source shared by the codegen expression and the oracle SQL. */
  val HashA: IndexedSeq[Long] =
    (0 until NumHashes).map(graft.functions.MinHashSignature.coeffA(_, HashP))
  val HashB: IndexedSeq[Long] =
    (0 until NumHashes).map(graft.functions.MinHashSignature.coeffB(_, HashP))

  /** SimHash width (bits). 32 keeps every intermediate in safe BIGINT range
    * on both engines. */
  val SimHashBits = 32

  // ---------------------------------------------------------------- tokens

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  def tokensSql(text: String): String = s"string_split($text, ' ')"

  // ------------------------------------------------------------- poly hash

  /** Polynomial rolling hash of a string: fold code points c:
    * h = (h*31 + c) % P. Left-to-right, mod every step — bit-identical in
    * DuckDB. Backed by the codegen'd [[graft.functions.PolyHash]] expression
    * (the equivalent aggregate/transform/split higher-order pipeline is
    * interpreted and ~20x slower on hash-heavy dedup paths). */
  def polyHash(s: Column): Column =
    graft.functions.VectorFunctions.polyHash(s, HashP)

  def polyHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $HashP)"

  // --------------------------------------------------------------- shingles

  /** Distinct word k-gram shingles (space-joined) of a token array. Documents
    * shorter than k tokens yield an empty set. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))

  // ---------------------------------------------------------------- minhash

  /** MinHash signature (array of NumHashes longs) over a shingle-hash array.
    * One codegen'd pass ([[graft.functions.MinHashSignature]]) — the
    * equivalent NumHashes x `array_min(transform(...))` higher-order pipeline
    * is CodegenFallback (interpreted) and was the dedup family's bench
    * bottleneck (~10x slower). */
  def minhashSignature(shingleHashes: Column): Column =
    graft.functions.VectorFunctions.minhashSig(shingleHashes, NumHashes, HashP)

  def minhashSignatureSql(shingleHashes: String): String =
    (0 until NumHashes).map { j =>
      s"list_min(list_transform($shingleHashes, h -> (${HashA(j)} * h + ${HashB(j)}) % $HashP))"
    }.mkString("[", ", ", "]")

  // ---------------------------------------------------------------- simhash

  /** Per-bit contribution sums for SimHash: for token-hash column h and bit j,
    * +1 if bit set else -1; sum over tokens (with multiplicity). Used with
    * groupBy(doc).agg(simhashBitSums: _*). */
  def simhashBitSums(tokenHash: Column): Seq[Column] =
    (0 until SimHashBits).map { j =>
      sum(when(shiftright(tokenHash, j) % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }

  /** Combine the 32 bit-sum columns into the final SimHash long. */
  def simhashFromBitSums: Column =
    (0 until SimHashBits).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Full DuckDB CTE body computing (doc_id, simhash) from the documents
    * view — mirrors the Spark pipeline tokens → polyHash → bit sums → sign. */
  def simhashSql(tokensExpr: String): String = {
    val bitSums = (0 until SimHashBits).map { j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val combine = (0 until SimHashBits).map { j =>
      s"CASE WHEN b$j >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, $combine AS simhash FROM (
       |  SELECT doc_id, $bitSums
       |  FROM (SELECT doc_id, unnest(list_transform($tokensExpr, t -> ${polyHashSql("t")})) AS h
       |        FROM documents)
       |  GROUP BY doc_id)""".stripMargin
  }

  // ------------------------------------------------------------- stopwords

  /** Tiny English stopword list for quality/lang-id heuristics (shared). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  def stopwordsSqlList: String = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
}
