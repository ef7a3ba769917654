package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import scala.collection.mutable

/** Per-group top-k — the one implementation behind every ANN serving
  * leg, both k-NN graph builds, the recall monitors' exact sides and
  * the exactly-k sample.
  *
  * Two phases. Phase 1 folds each INPUT PARTITION into one bounded
  * heap per group (constant task state, no shuffle, the candidate
  * stream read once at scan speed). Phase 2 ranks only the
  * ≤ k·#partitions survivors per group with the exact `row_number`
  * window. A window alone would funnel the full candidate stream into
  * one sort task per group: with 5-10 query groups that is a 5-10-task
  * sort of the whole scored corpus at any scale (the k-NN graph build
  * spilled 4.9 GB into that sort at a 20k-node sample before it moved
  * to this shape).
  *
  * Equality argument: a group's global top-k lies in the union of its
  * per-partition top-k's (every globally kept row is in its own
  * partition's top-k), and every row ranked above a kept row survives
  * phase 1 too — so each survivor's phase-2 rank is its global rank.
  * The heap compares doubles the way Spark's sort does
  * ([[SQLOrderingUtil.compareDoubles]]: -0.0 == 0.0, NaN greatest), and
  * the (score, id) key is unique per group when ids are, so ranks are
  * layout-invariant.
  */
object TopK {

  /** `cand`'s three columns, read by POSITION as (group, id, score),
    * plus `rnk` (1-based `row_number`): at most k rows per group,
    * ranked by score DESC then id ASC. Null scores are dropped (no
    * defined rank). The typed heap follows `cand`'s schema — group,
    * score ∈ (Long, Double), (Long, Long) or (String, Long); the id
    * is read as Long.
    */
  def perGroup(cand: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"TopK.perGroup needs k > 0, got $k")
    val names = cand.columns.toSeq
    require(names.size == 3,
      s"TopK.perGroup reads (group, id, score), got (${names.mkString(", ")})")
    val Seq(g, id, s) = names
    val spark = cand.sparkSession
    import spark.implicits._
    // scores decode BOXED so the heap itself drops nulls: a Catalyst
    // null filter would be pushed below the projection that computes
    // the score and evaluate it twice per candidate
    val survivors = (cand.schema(0).dataType, cand.schema(2).dataType) match {
      case (LongType, DoubleType) =>
        cand.as[(Long, Long, java.lang.Double)].mapPartitions(heaps(k, doubleOrder)(_)
          .map { case (g, n, s) => (g, n, s.doubleValue) }).toDF(names: _*)
      case (LongType, LongType) =>
        cand.as[(Long, Long, java.lang.Long)].mapPartitions(heaps(k, longOrder)(_)
          .map { case (g, n, s) => (g, n, s.longValue) }).toDF(names: _*)
      case (StringType, LongType) =>
        cand.as[(String, Long, java.lang.Long)].mapPartitions(heaps(k, longOrder)(_)
          .map { case (g, n, s) => (g, n, s.longValue) }).toDF(names: _*)
      case (gt, st) => throw new IllegalArgumentException(
        s"TopK.perGroup has no heap for (group, score) = (${gt.simpleString}, ${st.simpleString})")
    }
    survivors
      .withColumn("rnk", row_number().over(Window.partitionBy(g).orderBy(col(s).desc, col(id))))
      .filter(col("rnk") <= k)
  }

  private val doubleOrder: Ordering[java.lang.Double] = new Ordering[java.lang.Double] {
    def compare(x: java.lang.Double, y: java.lang.Double): Int =
      SQLOrderingUtil.compareDoubles(x.doubleValue, y.doubleValue)
  }

  private val longOrder: Ordering[java.lang.Long] = new Ordering[java.lang.Long] {
    def compare(x: java.lang.Long, y: java.lang.Long): Int = java.lang.Long.compare(x, y)
  }

  /** Phase 1 over one partition: a bounded heap per group whose head is
    * the WORST kept candidate (lower score, then higher id), evicted
    * when a better one arrives; null scores are skipped. Pure
    * selection — values pass through untouched.
    */
  private def heaps[G, S](k: Int, score: Ordering[S])(
      it: Iterator[(G, Long, S)]): Iterator[(G, Long, S)] = {
    val worse: Ordering[(S, Long)] = new Ordering[(S, Long)] {
      def compare(x: (S, Long), y: (S, Long)): Int = {
        val c = score.compare(y._1, x._1)
        if (c != 0) c else java.lang.Long.compare(x._2, y._2)
      }
    }
    val best = mutable.HashMap.empty[G, mutable.PriorityQueue[(S, Long)]]
    it.filter(_._3 != null).foreach { case (g, n, s) =>
      val h = best.getOrElseUpdate(g, mutable.PriorityQueue.empty(worse))
      if (h.size < k) h.enqueue((s, n))
      else if (worse.lt((s, n), h.head)) { h.dequeue(); h.enqueue((s, n)) }
    }
    best.iterator.flatMap { case (g, h) => h.iterator.map { case (s, n) => (g, n, s) } }
  }
}
