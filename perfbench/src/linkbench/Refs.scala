package linkbench

import scala.collection.mutable

/** A deduplicated edge list over vertices 0..n-1, sorted by (src, dst). */
final case class EdgeList(n: Int, src: Array[Int], dst: Array[Int]) {
  def size: Int = src.length

  /** Row offsets: since src is sorted, the neighbors of v are
    * dst(off(v) until off(v + 1)). */
  lazy val off: Array[Int] = {
    val off = new Array[Int](n + 1)
    src.foreach(s => off(s + 1) += 1)
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    off
  }

  def relabel(perm: Array[Int]): EdgeList = EdgeList.of(n, src.map(perm), dst.map(perm))

  /** `k` disjoint copies of this graph, copy c on vertices c*n..(c+1)*n-1. */
  def copies(k: Int): EdgeList = EdgeList.of(n * k,
    Array.tabulate(k)(c => src.map(_ + c * n)).flatten,
    Array.tabulate(k)(c => dst.map(_ + c * n)).flatten)

  /** Both directions of every non-loop edge. */
  def symmetric: EdgeList = {
    val keep = src.indices.filter(i => src(i) != dst(i))
    EdgeList.of(n, keep.map(src).toArray ++ keep.map(dst), keep.map(dst).toArray ++ keep.map(src))
  }
}

object EdgeList {
  def of(n: Int, src: Array[Int], dst: Array[Int]): EdgeList = {
    val keys = src.indices.map(i => src(i).toLong * n + dst(i)).toArray
    java.util.Arrays.sort(keys)
    val uniq = mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < keys.length) {
      if (i == 0 || keys(i) != keys(i - 1)) uniq += keys(i)
      i += 1
    }
    val u = uniq.result()
    EdgeList(n, u.map(k => (k / n).toInt), u.map(k => (k % n).toInt))
  }
}

/** Single-threaded driver-side references, written straight from each
  * algorithm's definition with no Spark and no engine code, so that every
  * output the engine returns is checked against an independent answer. */
object Refs {

  private val HrefRe = "href=\"([^\"]+)\"".r

  /** The link graph of raw pages: ids are ranks of the sorted urls, edges
    * are the distinct (page, href target) pairs whose target is a page. */
  def linkGraph(urls: Array[String], htmls: Array[String]): EdgeList = {
    val sorted = urls.sorted
    val id = sorted.zipWithIndex.toMap
    val src = mutable.ArrayBuilder.make[Int]
    val dst = mutable.ArrayBuilder.make[Int]
    urls.indices.foreach { i =>
      val s = id(urls(i))
      HrefRe.findAllMatchIn(htmls(i)).foreach { m =>
        id.get(m.group(1)).foreach { d => src += s; dst += d }
      }
    }
    EdgeList.of(urls.length, src.result(), dst.result())
  }

  /** `pagerank_3f`: teleport (1-d)/n, sinks drop out, stop when the L1
    * change is <= tol. Returns the scores and the rounds run. */
  def pagerank(g: EdgeList, damping: Double, tol: Double, maxIter: Int): (Array[Double], Int) = {
    val n = g.n
    val deg = new Array[Int](n)
    g.src.foreach(s => deg(s) += 1)
    val teleport = (1.0 - damping) / n
    var r = Array.fill(n)(1.0 / n)
    val w = new Array[Double](n)
    var iter = 0
    var rdiff = Double.MaxValue
    while (iter < maxIter && rdiff > tol) {
      var i = 0
      while (i < n) { w(i) = if (deg(i) > 0) r(i) * damping / deg(i) else 0.0; i += 1 }
      val next = Array.fill(n)(teleport)
      var e = 0
      while (e < g.size) { next(g.dst(e)) += w(g.src(e)); e += 1 }
      rdiff = 0.0
      i = 0
      while (i < n) { rdiff += math.abs(next(i) - r(i)); i += 1 }
      r = next
      iter += 1
    }
    (r, iter)
  }

  /** Union-find components, labelled by their smallest vertex id. */
  def components(g: EdgeList): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < g.size) {
      val a = find(g.src(e))
      val b = find(g.dst(e))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    Array.tabulate(g.n)(v => find(v).toLong)
  }

  /** Synchronous mode label propagation over a symmetric graph: each round
    * every vertex with neighbors takes the most frequent neighbor label,
    * ties to the smallest label. Stops after a round with no change or at
    * maxIter. Returns the labels and the rounds run. */
  def labelPropagation(g: EdgeList, maxIter: Int): (Array[Long], Int) = {
    val (off, nbr) = (g.off, g.dst)
    var lbl = Array.tabulate(g.n)(_.toLong)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val next = lbl.clone()
      var nChanged = 0
      var v = 0
      while (v < g.n) {
        if (off(v + 1) > off(v)) {
          val ls = (off(v) until off(v + 1)).map(i => lbl(nbr(i))).toArray
          java.util.Arrays.sort(ls)
          var best = ls(0); var bestCount = 0
          var i = 0
          while (i < ls.length) {
            var j = i
            while (j < ls.length && ls(j) == ls(i)) j += 1
            if (j - i > bestCount) { best = ls(i); bestCount = j - i }
            i = j
          }
          next(v) = best
          if (best != lbl(v)) nChanged += 1
        }
        v += 1
      }
      lbl = next
      changed = nChanged > 0
      iter += 1
    }
    (lbl, iter)
  }

  /** Triangles of a symmetric graph, each found once from its lowest
    * (degree, id) corner. Returns the count and, per lower-triangle edge
    * (i, j) with i > j, the number of common neighbors k < j: the masked
    * product L·Lᵀ over L = {(i, j): i > j}, keyed i * n + j. */
  def triangles(g: EdgeList): (Long, Map[Long, Long]) = {
    val n = g.n
    val (off, nbr) = (g.off, g.dst)
    def deg(v: Int) = off(v + 1) - off(v)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.tabulate(n)(v =>
      (off(v) until off(v + 1)).map(nbr).filter(before(v, _)).toArray)
    val mark = Array.fill(n)(-1)
    val support = mutable.HashMap[Long, Long]()
    var count = 0L
    var u = 0
    while (u < n) {
      out(u).foreach(w => mark(w) = u)
      out(u).foreach { v =>
        out(v).foreach { w =>
          if (mark(w) == u) {
            count += 1
            val Array(_, b, c) = Array(u, v, w).sorted
            val key = c.toLong * n + b
            support(key) = support.getOrElse(key, 0L) + 1
          }
        }
      }
      u += 1
    }
    (count, support.toMap)
  }
}
