package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils, SQLOrderingUtil}
import org.apache.spark.sql.functions.col

/** One search's layered HNSW graph in memory: nodes sorted by tid (index
  * order is tid order) with their vectors and fixed-point norms, the
  * entry layer, and per searched level a CSR adjacency holding only the
  * edges whose ends are both nodes (the rest never score). */
private[ops] final class HnswGraph(ids: Array[Long], vecs: Array[ArrayData],
    norms: Array[Long], entry: Array[Int], offsets: Array[Array[Int]],
    dsts: Array[Array[Int]]) extends Serializable {

  /** One task's beam walk; hop h runs on level `levels(h)` at width
    * `widths(h)`. Scratch is per node, stamped per query and per hop. */
  final class Walker(levels: Array[Int], widths: Array[Int], ansi: Boolean) {
    private val cos = new Array[Double](ids.length)
    private val isNull = new Array[Boolean](ids.length)
    private val scoredBy = Array.fill(ids.length)(-1)
    private val seenAt = Array.fill(ids.length)(-1)
    private var query, hop = -1
    private var qe: ArrayData = _
    private var qn = 0L

    /** `dot / sqrt(qn * tn)` as Spark evaluates it: NULL for a NULL
      * vector; under ANSI an overflowing product or a zero divisor
      * fails, otherwise a zero divisor gives NULL. */
    private def score(i: Int): Unit = if (scoredBy(i) != query) {
      scoredBy(i) = query
      isNull(i) = qe == null || vecs(i) == null
      if (!isNull(i)) {
        val d = math.sqrt((if (ansi) MathUtils.multiplyExact(qn, norms(i))
          else qn * norms(i)).toDouble)
        if (d == 0 && ansi)
          throw org.apache.spark.sql.graft.internal.divideByZeroError()
        isNull(i) = d == 0
        cos(i) = VecImpl.scaledDot(qe, vecs(i)).toDouble / d
      }
    }

    /** cos desc in Spark's double order (NaN largest, -0.0 = 0.0), NULL
      * last, then tid asc. */
    private def before(i: Int, j: Int): Boolean =
      if (isNull(i)) isNull(j) && i < j
      else if (isNull(j)) true
      else {
        val c = SQLOrderingUtil.compareDoubles(cos(i), cos(j))
        if (c != 0) c > 0 else i < j
      }

    private def best(cand: Array[Int], width: Int): Array[Int] = {
      cand.foreach(score)
      cand.sortWith(before).take(width)
    }

    /** The final beam of query vector `q` as (tid, cos), best first. */
    def walk(q: Array[Float]): Array[(Long, Option[Double])] = {
      query += 1
      qe = if (q == null) null else UnsafeArrayData.fromPrimitiveArray(q)
      qn = if (q == null) 0L else VecImpl.scaledDot(qe, qe)
      var beam = best(entry, 1)
      for (h <- levels.indices) {
        hop += 1
        val (off, dst) = (offsets(levels(h)), dsts(levels(h)))
        val cand = (beam.iterator ++ beam.iterator.flatMap(b =>
            (off(b) until off(b + 1)).iterator.map(dst)))
          .filter { i => val fresh = seenAt(i) != hop; seenAt(i) = hop; fresh }
        beam = best(cand.toArray, widths(h))
      }
      beam.map(i => (ids(i), if (isNull(i)) None else Some(cos(i))))
    }
  }
}

private[ops] object HnswGraph {

  /** Reads `targets` (tid, te, lvl), one row per tid, with entry layer
    * `maxOcc`, and the adjacency of levels below `numLevels` once. */
  def collect(targets: DataFrame, adjacency: DataFrame, maxOcc: Int,
      numLevels: Int): HnswGraph = {
    import targets.sparkSession.implicits._
    val nodes = targets.filter(col("tid").isNotNull)
      .select(col("tid").cast("long"), col("te"), col("lvl").cast("int"))
      .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
    val ids = nodes.map(_._1)
    val vecs: Array[ArrayData] = nodes.map(n =>
      if (n._2 == null) null else UnsafeArrayData.fromPrimitiveArray(n._2))
    val norms = vecs.map(v => if (v == null) 0L else VecImpl.scaledDot(v, v))
    // edges arrive as primitive arrays per partition: millions of edges
    // never become one object each
    val edges = adjacency.filter(col("lvl") < numLevels)
      .select(col("lvl").cast("int"), col("src").cast("long"),
        col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val (l, s, d) = (Array.newBuilder[Int], Array.newBuilder[Long],
          Array.newBuilder[Long])
        rows.foreach { r => l += r.getInt(0); s += r.getLong(1); d += r.getLong(2) }
        Iterator((l.result(), s.result(), d.result()))
      }.collect()
    def eachEdge(f: (Int, Int, Int) => Unit): Unit = edges.foreach {
      case (l, s, d) => l.indices.foreach { e =>
        val si = java.util.Arrays.binarySearch(ids, s(e))
        val di = java.util.Arrays.binarySearch(ids, d(e))
        if (si >= 0 && di >= 0) f(l(e), si, di)
      }
    }
    val offsets = Array.ofDim[Int](numLevels, ids.length + 1)
    eachEdge((l, si, _) => offsets(l)(si + 1) += 1)
    offsets.foreach(o => o.indices.drop(1).foreach(i => o(i) += o(i - 1)))
    val fill = offsets.map(_.clone())
    val dsts = offsets.map(o => new Array[Int](o.last))
    eachEdge { (l, si, di) => dsts(l)(fill(l)(si)) = di; fill(l)(si) += 1 }
    new HnswGraph(ids, vecs, norms,
      nodes.indices.filter(nodes(_)._3 == maxOcc).toArray, offsets, dsts)
  }
}
