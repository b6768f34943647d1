package graft.ccf

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/**
 * Small-input CCF fixpoint on the RDD layer — the LATENCY engine behind
 * [[CCF.run]] for sub-[[Threshold]]-pair graphs.
 *
 * Why it exists (VERDICT r9 #1): on the reference's benchmark matrix
 * (`ccf_experiments.py:146-260` — 34 runs, every graph ≤15k edges, 5-12
 * rounds each) the declarative round costs ~150 ms of pure fixed overhead
 * per iteration on this box — Catalyst analysis/optimization of a fresh
 * ~20-node plan, three exchange setups, checkpoint materialization — while
 * the per-round DATA is at most a few hundred KB. The RDD layer runs the
 * identical algorithm with none of that: closures are compiled once, and
 * while the pair set stays below [[FusedRows]] consecutive rounds run FUSED,
 * in driver memory, so a whole fixpoint of the reference's matrix starts no
 * job from a driver-local input and returns its assignments as a
 * driver-local `LocalRelation`. A larger round is one job of two stages
 * over the spill-backed `groupByKey`. A fused round counts its NewPairs and
 * rows as it emits; a distributed round's counters ride the job that
 * materializes it (per-partition counts returned through `runJob`'s result
 * handler over the persisted round — deterministic, no accumulator-retry
 * hazard, no extra action).
 *
 * This is an explicit size-gated engine choice, not a departure from the
 * Spark-first design: at scale the declarative path in [[CCF]] wins
 * (whole-stage codegen, map-side partial min, AQE skew splitting) and
 * remains the engine of record; below ~100k pairs the optimizer itself is
 * the bottleneck, and the honest fix is to stop paying it per round.
 * Results are identical to the declarative engine's (CCFPropertySpec
 * compares the engines): same emit rule, same per-occurrence NewPair
 * counting, same representative-has-no-row output contract.
 *
 * Algorithm per round (paper Fig. 2/Fig. 3; reference
 * `CCFConnectedComponents.scala:45-140` — reimplemented, not ported):
 *  - Basic: bidirect → groupByKey → per-key streaming min, then emit
 *    (key, min) plus (value, min) for every non-min neighbor occurrence,
 *    the latter tagged as NewPairs. CCF-Dedup is fused into the group
 *    stage from round 2 (per-key value set).
 *  - Both [[CCF.Variant]] labels run this one kernel (see its scaladoc).
 */
object MicroFixpoint {

  /** Input-pair count below which [[CCF.run]] routes here. At 100k pairs a
    * round's data is a few MB and per-round planning dominates; above it,
    * codegen + partial aggregation start paying for themselves. */
  val Threshold: Long = 100000L

  /** Rows one partition of a distributed round holds: a round over `rows`
    * input pairs runs on `rows / RowsPerPartition + 1` partitions, capped
    * at the session's shuffle-partition count. */
  val RowsPerPartition: Long = 32000L

  /** Input rows below which a round runs fused: on the driver, in memory,
    * with the rounds after it. A round emits, per re-labeled key, one
    * (key, min) row plus one row per non-min neighbour occurrence: at most
    * |V| + 2 x input rows, and in fact at most 2 x input, since the min is
    * one of the key's own occurrences. Fused rounds therefore hold
    * O(FusedRows) pairs on the driver: a round's input (below FusedRows), its
    * per-key neighbour lists (2 x input) and its output — the bound a fused
    * task held when these rounds ran inside a one-task job. Sized by a
    * per-round A/B of fused against distributed rounds inside real fixpoints
    * on a 4-cpu host (ROADMAP item 6): fused won at 32k, 128k, 256k and 512k
    * input rows. 2^19 keeps every fixpoint of the reference's matrix
    * (largest pair set 107,620 rows) on the driver. */
  val FusedRows: Long = 1L << 19

  /** Fixpoint outcome; `assignments` is (node, component), representative
    * has no row — the same contract as [[CCF.CCFResult]]. Left holds the
    * rows on the driver (a run whose last round ran fused), Right a
    * distributed pair set (a run whose last round ran distributed). None
    * when the blowup detector fired ([[CCF.auto]] then restarts on the
    * input). */
  final case class MicroResult[K](assignments: Option[Either[Seq[(K, K)], RDD[(K, K)]]],
                                  iterations: Int, converged: Boolean, history: Seq[Long])

  /** Loop state after each round, stepped by both engines (here once per
    * round, fused or distributed), so every loop stops on the same
    * round: the iteration cap, convergence (a round with 0 NewPairs) or
    * [[CCF.auto]]'s blowup detector (2 consecutive rounds past `blowupAt`
    * rows; None disarms it). */
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

  /** Run the fixpoint over `nInput` input pairs for any ordered key type.
    * Each round is sized from the OBSERVED row count of the round before it
    * (round 1: `nInput`). A round below [[FusedRows]] runs fused, on the
    * driver: the pair set is read there first, which costs no job from a
    * driver-local input (a `LocalRelation`) and one collect job from a
    * checkpoint or a distributed round, whose persisted blocks are then
    * freed. Round 1 always runs fused, since [[Threshold]] < [[FusedRows]].
    * A larger round is one job on up to `maxParts` partitions (the
    * session's shuffle-partition default), [[RowsPerPartition]] rows each —
    * intermediate pair sets can blow up orders of magnitude past the input
    * (string-keyed chains), and a cap derived from the input size would
    * serialize exactly those rounds. `armed` runs [[CCF.auto]]'s blowup
    * detector on the same observed per-round row counts: 2 consecutive
    * rounds past [[CCF.BlowupFactor]] x `nInput` end the run with no
    * assignments. */
  private[ccf] def run[K: ClassTag](input: Dataset[(K, K)], maxIterations: Int, nInput: Long,
                                    armed: Boolean, maxParts: Int)
                                   (implicit ord: Ordering[K]): MicroResult[K] = {
    val sc = input.sparkSession.sparkContext
    def partsFor(rows: Long): Int =
      math.max(1, math.min(maxParts, (rows / RowsPerPartition + 1L).toInt))
    var progress = Progress.start(maxIterations, armed, nInput)
    var pairs: Either[ArrayBuffer[(K, K)], RDD[(K, K)]] = Left(ArrayBuffer.from(input.collect()))
    var rows = nInput
    var cached: RDD[_] = null // the persisted round a distributed `pairs` reads
    def uncache(): Unit = if (cached != null) { cached.unpersist(false); cached = null }
    val history = ArrayBuffer.empty[Long]
    while (!progress.done) {
      val start = progress
      val rounds: Seq[(Long, Long)] =
        if (rows < FusedRows) {
          val local = pairs match {
            case Left(l) => l
            case Right(rdd) => val l = ArrayBuffer.from(rdd.collect()); uncache(); l
          }
          val (next, stats) = fused(local, start)
          pairs = Left(next)
          stats
        } else {
          val rdd = pairs match {
            case Left(l) => sc.parallelize(l.toSeq, partsFor(rows))
            case Right(r) => r
          }
          // Materialize + count in ONE job: persist, then runJob's
          // per-partition result handler reads the counts while the block
          // manager is writing the same iterator to cache. MEMORY_AND_DISK so
          // memory pressure spills rather than evicts (an evicted round would
          // recompute its whole lineage).
          val tagged = iterate(rdd, dedupAdjacent = start.iterations > 0, partsFor(rows))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val counts = sc.runJob(tagged, (it: Iterator[(K, K, Boolean)]) => {
            var n = 0L; var t = 0L
            it.foreach { e => t += 1; if (e._3) n += 1 }
            (n, t)
          })
          uncache() // the round before has been read
          cached = tagged
          pairs = Right(tagged.map(e => (e._1, e._2)))
          Seq((counts.map(_._1).sum, counts.map(_._2).sum))
        }
      rounds.foreach { case (newPairs, r) =>
        history += newPairs
        progress = progress.after(newPairs, r)
        rows = r
      }
    }
    if (progress.switched) {
      // the restart reads the input, not these rounds
      uncache()
      MicroResult(None, progress.iterations, converged = false, history.toSeq)
    } else {
      // Converged emits are one (key, min) row per key — already distinct;
      // the maxIterations-without-convergence path deduplicates defensively
      // (its pair set is pre-dedup), matching the declarative loop's tail.
      val assignments = pairs match {
        case Left(l) => Left(if (progress.converged) l.toSeq else l.distinct.toSeq)
        case Right(rdd) => Right(if (progress.converged) rdd else rdd.distinct(partsFor(rows)))
      }
      MicroResult(Some(assignments), progress.iterations, progress.converged, history.toSeq)
    }
  }

  /** Rounds run in driver memory, from loop state `start` on, until the loop
    * is done or a round's output reaches [[FusedRows]]; the next round then
    * goes back to [[iterate]], which can spill. Each round is bidirect →
    * per-key group → [[emit]], the distributed round's multiset. Returns the
    * last round's pairs and each round's (newPairs, rows), oldest first. The
    * driver holds O([[FusedRows]]) pairs, the bound a fused task held when
    * these rounds ran inside a one-task job. */
  private def fused[K](input: ArrayBuffer[(K, K)], start: Progress)
                      (implicit ord: Ordering[K]): (ArrayBuffer[(K, K)], Seq[(Long, Long)]) = {
    var pairs = input
    var progress = start
    val rounds = ArrayBuffer.empty[(Long, Long)]
    do {
      val groups = scala.collection.mutable.HashMap.empty[K, ArrayBuffer[K]]
      pairs.foreach { case (a, b) =>
        groups.getOrElseUpdate(a, ArrayBuffer.empty[K]) += b
        groups.getOrElseUpdate(b, ArrayBuffer.empty[K]) += a
      }
      val next = ArrayBuffer.empty[(K, K)]
      var newPairs = 0L
      groups.foreach { case (k, vs) =>
        emit(k, vs, dedup = progress.iterations > 0).foreach { e =>
          next += ((e._1, e._2))
          if (e._3) newPairs += 1
        }
      }
      pairs = next
      rounds += ((newPairs, next.size.toLong))
      progress = progress.after(newPairs, next.size.toLong)
    } while (!progress.done && pairs.size < FusedRows)
    (pairs, rounds.toSeq)
  }

  /** One CCF-Iterate round → (src, dst, isNew) rows, pre-dedup. A sorted
    * (Fig. 3) kernel would emit the same multiset in another order, which
    * the next round's shuffle discards. Per-key neighbor pass over the
    * spill-backed groupByKey buffer (bounded by the max degree of a
    * <100k-pair graph). */
  private def iterate[K: ClassTag](pairs: RDD[(K, K)], dedupAdjacent: Boolean, parts: Int)
                                  (implicit ord: Ordering[K]): RDD[(K, K, Boolean)] =
    pairs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .groupByKey(new HashPartitioner(parts))
      .flatMap { case (k, vs) => emit(k, vs, dedupAdjacent) }

  /** One key's emits, shared by both round shapes: min sweep over the
    * neighbors, then (key, min) plus (value, min) tagged new for every
    * non-min neighbor occurrence, when min < key. With `dedup` (round 2 on)
    * the between-round CCF-Dedup is fused as the per-key value SET: emits
    * are single-orientation, so deduping a key's neighbor multiset equals
    * pair-distinct before bidirect — same counts as the declarative path's
    * distinct, one shuffle cheaper. Round 1 keeps raw multiplicity (the
    * reference's first iterate counts per occurrence). */
  private def emit[K](k: K, vs: Iterable[K], dedup: Boolean)
                     (implicit ord: Ordering[K]): Iterator[(K, K, Boolean)] = {
    val values: Iterable[K] =
      if (dedup) {
        val seen = scala.collection.mutable.LinkedHashSet.empty[K]
        vs.iterator.foreach(seen.add)
        seen
      } else vs
    var mn = null.asInstanceOf[K]
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

  /** DataFrame adapter: run the micro engine when the key type has a kernel
    * (string/long/int), else None and the caller stays on the declarative path.
    * `pairs` must be a materialized-or-cheap 2-column (src, dst) frame.
    * Returns Left(result) on convergence / iteration cap, Right(Switched)
    * carrying `pairs` itself when the armed blowup detector fired (see
    * [[CCF.auto]]). Rows on the driver become a `LocalRelation` DataFrame,
    * which [[CCF.componentCount]] and collects read without a job; either
    * shape has the declarative loop's schema. */
  private[ccf] def runDF(pairs: DataFrame, maxIterations: Int, armed: Boolean, nInput: Long)
      : Option[Either[CCF.CCFResult, CCF.Switched]] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyType = pairs.schema.fields(0).dataType
    val inputNullable = pairs.schema.exists(_.nullable)
    def toResult[K](r: MicroResult[K]): Either[CCF.CCFResult, CCF.Switched] =
      r.assignments match {
        case Some(a) =>
          // The declarative loop's schema, nullability included: its round 1
          // emits (key, min of the key's neighbours), a nullable aggregate,
          // and every later round reads both columns through a bidirect union
          // with that min.
          val schema = StructType(Seq(
            StructField("node", keyType, nullable = inputNullable || r.iterations > 1),
            StructField("component", keyType)))
          val df = a match {
            case Left(rows) =>
              spark.createDataFrame(rows.map { case (n, c) => Row(n, c) }.asJava, schema)
            case Right(rdd) => spark.createDataFrame(rdd.map { case (n, c) => Row(n, c) }, schema)
          }
          Left(CCF.CCFResult(df, r.iterations, r.converged, r.history, engine = "ccf"))
        case None => Right(CCF.Switched(pairs, r.iterations, r.history))
      }
    val tupled = pairs.toDF("_1", "_2")
    keyType.typeName match {
      case "string" =>
        Some(toResult(run(tupled.as[(String, String)], maxIterations, nInput, armed, maxParts)))
      case "long" =>
        Some(toResult(run(tupled.as[(Long, Long)], maxIterations, nInput, armed, maxParts)))
      case "integer" =>
        Some(toResult(run(tupled.as[(Int, Int)], maxIterations, nInput, armed, maxParts)))
      case _ => None
    }
  }
}
