package graft.ccf

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

import scala.collection.mutable.ArrayBuffer

/**
 * The driver round of [[CCF.run]]'s fixpoint loop, and the loop state that
 * both of the loop's round shapes step.
 *
 * Why it exists (VERDICT r9 #1): on the reference's benchmark matrix
 * (`ccf_experiments.py:146-260` — 34 runs, every graph ≤15k edges, 5-12
 * rounds each) a declarative round costs ~150 ms of pure fixed overhead on
 * a 4-cpu host — Catalyst analysis/optimization of a fresh ~20-node plan, three
 * exchange setups, checkpoint materialization — while the round's DATA is at
 * most a few hundred KB. A round whose input is below [[FusedRows]] rows runs
 * here instead, in driver memory: no plan and no job, so a fixpoint of the
 * reference's matrix from a driver-local input starts no job and no Catalyst
 * action, and returns its assignments as a driver-local `LocalRelation`. A
 * round at or past [[FusedRows]] runs declaratively ([[CCF.iterateBasic]]:
 * whole-stage codegen, map-side partial min, AQE skew splitting), the engine
 * of record at scale. Results are identical whichever shape a round takes
 * (CCFPropertySpec runs every round declaratively on a second session and
 * compares): same emit rule, same per-occurrence NewPair counting, same
 * representative-has-no-row output contract.
 *
 * Kernel: a pair set that comes onto the driver (the input, or a
 * declarative round's checkpoint) is encoded once as dense int ranks
 * ([[encode]], [[Dictionary]]: its distinct keys sorted by Spark's own
 * interpreted ordering of the key type, so rank order is key order and a
 * driver round picks the minimum a declarative round's `min` picks). CCF
 * never creates a node, so that dictionary serves every driver round after
 * it. A pair set on the driver is then two `Int` arrays ([[Pairs]]), and a
 * round ([[round]]) is a counting-sort CSR of the bidirected pairs, a
 * per-key min scan and the emits written into two preallocated `Int`
 * arrays.
 *
 * Driver memory: 8 bytes per pair between rounds, plus the one dictionary
 * (one Catalyst value per distinct key). A round over n pairs and K keys
 * allocates its CSR (2n + 2K ints), its output (at most 4n ints) and, from
 * round 2 on, a K-int stamp array.
 *
 * Algorithm per round (paper Fig. 2/Fig. 3; reference
 * `CCFConnectedComponents.scala:45-140` — reimplemented, not ported):
 * bidirect → per-key group → per-key min, then emit (key, min) plus
 * (value, min) for every non-min neighbor occurrence, the latter tagged as
 * NewPairs. CCF-Dedup is the per-key value set from round 2 on. Both
 * [[CCF.Variant]] labels run this one kernel (see its scaladoc).
 */
object MicroFixpoint {

  /** Input rows below which a round runs on the driver. A round emits, per
    * re-labeled key, one (key, min) row plus one row per non-min neighbour
    * occurrence: at most |V| + 2 x input rows, and in fact at most 2 x input,
    * since the min is one of the key's own occurrences. A driver round
    * therefore holds O(FusedRows) pairs: its input (below FusedRows), its
    * CSR neighbour array (2 x input) and its output. Sized by a
    * per-round A/B of driver-sized rounds against distributed ones inside
    * real fixpoints on a 4-cpu host (ROADMAP item 6): the driver won at 32k,
    * 128k, 256k and 512k input rows. 2^19 keeps every fixpoint of the
    * reference's matrix (largest pair set 107,620 rows) on the driver. */
  val FusedRows: Long = 1L << 19

  /** Loop state after each round, stepped once per round whichever shape it
    * took, so every run stops on the same round: the iteration cap,
    * convergence (a round with 0 NewPairs) or [[CCF.auto]]'s blowup detector
    * (2 consecutive rounds past `blowupAt` rows; None disarms it). */
  private[ccf] final case class Progress(maxIterations: Int, blowupAt: Option[Long],
                                         iterations: Int = 0, converged: Boolean = false,
                                         blowups: Int = 0) {
    /** The detector fired with rounds left: the cap wins over a switch. */
    def switched: Boolean = blowups >= 2 && !converged && iterations < maxIterations
    def done: Boolean = iterations >= maxIterations || converged || blowups >= 2
    def after(newPairs: Long, rows: Long): Progress =
      copy(iterations = iterations + 1, converged = newPairs == 0L,
        blowups = if (blowupAt.exists(rows > _)) blowups + 1 else 0)
  }

  private[ccf] object Progress {
    /** Before round 1 over `nInput` pairs; `armed` sets the detector at
      * [[CCF.BlowupFactor]] x `nInput`. */
    def start(maxIterations: Int, armed: Boolean, nInput: Long): Progress =
      Progress(maxIterations, Option.when(armed)(CCF.BlowupFactor * math.max(1L, nInput)))
  }

  /** The key types with a driver kernel: string (UTF-8 byte order, as
    * Spark's `min` and `<` order it), long and int. Any other key type runs
    * every round declaratively. */
  private[ccf] def hasKernel(keyType: DataType): Boolean = keyType match {
    case StringType | LongType | IntegerType => true
    case _ => false
  }

  /** The distinct keys of a pair set as Catalyst internal values
    * (`UTF8String`, `Long`, `Int`), sorted by Spark's interpreted ordering
    * for the key type; a key's rank is its position. */
  private[ccf] final class Dictionary(keys: Array[AnyRef]) {
    def size: Int = keys.length
    def decode(p: Pairs): IndexedSeq[InternalRow] =
      IndexedSeq.tabulate(p.size)(i => new GenericInternalRow(Array[Any](keys(p.src(i)), keys(p.dst(i)))))
  }

  /** Driver rows into ranks: one hash lookup per endpoint gives each key an
    * id in first-seen order, then the sort of the distinct keys turns ids
    * into ranks. Rows with a null endpoint are dropped: the declarative
    * round never groups, emits or counts one either. */
  private[ccf] def encode(keyType: DataType, rows: Seq[InternalRow]): (Dictionary, Pairs) = {
    val ids = new java.util.HashMap[AnyRef, Integer]()
    val seen = ArrayBuffer.empty[AnyRef]
    def id(key: AnyRef): Int = {
      val known = ids.putIfAbsent(key, seen.size)
      if (known != null) known else { seen += key; seen.size - 1 }
    }
    val p = Pairs(rows.size)
    var n = 0
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        p.src(n) = id(r.get(0, keyType))
        p.dst(n) = id(r.get(1, keyType))
        n += 1
      }
    }
    val keys = seen.toArray
    java.util.Arrays.sort(keys, TypeUtils.getInterpretedOrdering(keyType))
    val rankOf = new Array[Int](keys.length)
    keys.indices.foreach(r => rankOf(ids.get(keys(r))) = r)
    (0 until n).foreach { i =>
      p.src(i) = rankOf(p.src(i))
      p.dst(i) = rankOf(p.dst(i))
    }
    (new Dictionary(keys), p.copy(size = n))
  }

  /** A pair set on the driver: (src(i), dst(i)) for i < size, as ranks. */
  private[ccf] final case class Pairs(src: Array[Int], dst: Array[Int], size: Int)

  private[ccf] object Pairs {
    def apply(n: Int): Pairs = Pairs(new Array[Int](n), new Array[Int](n), n)
  }

  /** The pair set without repeated pairs (CCF-Dedup). */
  private[ccf] def distinct(p: Pairs): Pairs = {
    val packed = Array.tabulate(p.size)(i => p.src(i).toLong << 32 | p.dst(i))
    java.util.Arrays.sort(packed)
    val out = Pairs(p.size)
    var n = 0
    packed.indices.foreach { i =>
      if (i == 0 || packed(i) != packed(i - 1)) {
        out.src(n) = (packed(i) >>> 32).toInt
        out.dst(n) = packed(i).toInt
        n += 1
      }
    }
    out.copy(size = n)
  }

  /** One round in driver memory over `p`, whose ranks are below `nKeys`:
    * bidirect into a CSR, then per key its min neighbour, and when that
    * min is below the key the emits (key, min) and (value, min), tagged
    * new, for every non-min neighbour occurrence: the declarative round's
    * multiset. With `dedup` (round 2 on) CCF-Dedup is the per-key value
    * SET: emits are single-orientation (value > min), so deduping a key's
    * neighbour multiset equals pair-distinct before bidirect, the same
    * counts as the declarative round's distinct. Round 1 keeps raw
    * multiplicity (the reference's first iterate counts per occurrence).
    * Returns the round's emits, pre-dedup, and its NewPair count. */
  private[ccf] def round(p: Pairs, nKeys: Int, dedup: Boolean): (Pairs, Long) = {
    // key k's neighbours are nbr(off(k) until off(k + 1))
    val off = new Array[Int](nKeys + 1)
    var i = 0
    while (i < p.size) { off(p.src(i) + 1) += 1; off(p.dst(i) + 1) += 1; i += 1 }
    var k = 0
    while (k < nKeys) { off(k + 1) += off(k); k += 1 }
    val fill = java.util.Arrays.copyOf(off, nKeys)
    val nbr = new Array[Int](2 * p.size)
    i = 0
    while (i < p.size) {
      val a = p.src(i)
      val b = p.dst(i)
      nbr(fill(a)) = b; fill(a) += 1
      nbr(fill(b)) = a; fill(b) += 1
      i += 1
    }
    // a key emits at most one row per neighbour occurrence
    val out = Pairs(2 * p.size)
    val seen = if (dedup) Array.fill(nKeys)(-1) else null
    var n = 0
    var newPairs = 0L
    k = 0
    while (k < nKeys) {
      var mn = k
      var j = off(k)
      while (j < off(k + 1)) { if (nbr(j) < mn) mn = nbr(j); j += 1 }
      if (mn < k) {
        out.src(n) = k; out.dst(n) = mn; n += 1
        j = off(k)
        while (j < off(k + 1)) {
          val v = nbr(j)
          if (v != mn && (seen == null || seen(v) != k)) {
            if (seen != null) seen(v) = k
            out.src(n) = v; out.dst(n) = mn; n += 1
            newPairs += 1
          }
          j += 1
        }
      }
      k += 1
    }
    (out.copy(size = n), newPairs)
  }
}
