package graft.perfbench

import scala.collection.mutable

/** Reference computations in plain Scala over collected rows. Nothing
  * here calls into graft or Spark: each result is computed apart from
  * the program and compared against the program's output.
  *
  * Edges are undirected `(src, dst, w)` rows with `src < dst` and an
  * integral weight `w > 0`. Fractional inputs are scaled to integers
  * before they get here (modularity is invariant under scaling).
  */
object Reference {

  type Edge = (Long, Long, Long)

  /** Supplier co-occurrence edges from `(orderkey, suppkey)` rows:
    * weight = number of orders in which both suppliers appear. A
    * supplier listed twice in one order counts once. */
  def coEdges(rows: Array[(Long, Long)]): Array[Edge] = {
    val sorted = rows.sorted
    val w = mutable.LongMap.empty[Long]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val supp = sorted.slice(i, j).map(_._2).distinct
      var a = 0
      while (a < supp.length) {
        var b = a + 1
        while (b < supp.length) {
          w(pairKey(supp(a), supp(b))) = w.getOrElse(pairKey(supp(a), supp(b)), 0L) + 1L
          b += 1
        }
        a += 1
      }
      i = j
    }
    w.iterator.map { case (k, c) => (k >>> 32, k & 0xffffffffL, c) }.toArray.sorted
  }

  private def pairKey(a: Long, b: Long): Long = {
    require(a >= 0 && b >= 0 && a < (1L << 31) && b < (1L << 31), s"id out of range: $a, $b")
    if (a < b) (a << 32) | b else (b << 32) | a
  }

  /** Weighted degree per vertex. */
  def weightedDegrees(edges: Array[Edge]): mutable.LongMap[Long] = {
    val d = mutable.LongMap.empty[Long]
    edges.foreach { case (a, b, w) =>
      d(a) = d.getOrElse(a, 0L) + w
      d(b) = d.getOrElse(b, 0L) + w
    }
    d
  }

  /** Unweighted degree (number of distinct neighbours) per vertex. */
  def degrees(edges: Array[Edge]): mutable.LongMap[Long] = {
    val d = mutable.LongMap.empty[Long]
    edges.foreach { case (a, b, _) =>
      d(a) = d.getOrElse(a, 0L) + 1L
      d(b) = d.getOrElse(b, 0L) + 1L
    }
    d
  }

  /** Exact modularity numerator and denominator:
    * Q = (4m·Σw_in − Σd_c²) / 4m². Every edge endpoint must be labelled. */
  def modularityParts(edges: Array[Edge], label: collection.Map[Long, Long])
      : (BigInt, BigInt) = {
    var m = BigInt(0)
    var wIn = BigInt(0)
    val dC = mutable.LongMap.empty[Long]
    edges.foreach { case (a, b, w) =>
      val (ca, cb) = (label(a), label(b))
      m += w
      if (ca == cb) wIn += w
      dC(ca) = dC.getOrElse(ca, 0L) + w
      dC(cb) = dC.getOrElse(cb, 0L) + w
    }
    val sq = dC.valuesIterator.foldLeft(BigInt(0))((s, d) => s + BigInt(d) * d)
    (4 * m * wIn - sq, 4 * m * m)
  }

  def modularity(edges: Array[Edge], label: collection.Map[Long, Long]): Double = {
    val (num, den) = modularityParts(edges, label)
    if (den == 0) 0.0 else num.toDouble / den.toDouble
  }

  def modularityE6(edges: Array[Edge], label: collection.Map[Long, Long]): Long =
    math.round(modularity(edges, label) * 1e6)

  /** True when partition `a` has modularity at least that of `b`,
    * compared exactly (same edges, so the denominators are equal). */
  def modularityAtLeast(edges: Array[Edge], a: collection.Map[Long, Long],
      b: collection.Map[Long, Long]): Boolean =
    modularityParts(edges, a)._1 >= modularityParts(edges, b)._1

  /** Union-find components; each vertex is labelled with the smallest
    * vertex id of its component. */
  def components(edges: Array[Edge]): mutable.LongMap[Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b, _) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = mutable.LongMap.empty[Long]
    parent.keysIterator.foreach(v => out(v) = find(v))
    out
  }

  /** PageRank by power iteration over the symmetrized, unweighted
    * graph, the convention of GraphX `staticPageRank`: every rank
    * starts at 1, each iteration sets r(v) = reset + (1 − reset) ·
    * Σ_{u∼v} r(u) / deg(u), and the result is scaled to sum to the
    * vertex count. */
  def pageRank(edges: Array[Edge], iters: Int, reset: Double = 0.15)
      : mutable.LongMap[Double] = {
    val deg = degrees(edges)
    var rank = mutable.LongMap.empty[Double]
    deg.keysIterator.foreach(v => rank(v) = 1.0)
    for (_ <- 0 until iters) {
      val sum = mutable.LongMap.empty[Double]
      edges.foreach { case (a, b, _) =>
        sum(b) = sum.getOrElse(b, 0.0) + rank(a) / deg(a)
        sum(a) = sum.getOrElse(a, 0.0) + rank(b) / deg(b)
      }
      val next = mutable.LongMap.empty[Double]
      rank.keysIterator.foreach(v => next(v) = reset + (1 - reset) * sum.getOrElse(v, 0.0))
      rank = next
    }
    val total = rank.valuesIterator.sum
    val scale = rank.size / total
    rank.keysIterator.foreach(v => rank(v) = rank(v) * scale)
    rank
  }

  /** Triangle count by adjacency-bitset intersection: for every edge
    * (a, b), the neighbours of both with an index above b's. */
  def triangles(edges: Array[Edge]): Long = {
    val verts = edges.flatMap(e => Array(e._1, e._2)).distinct.sorted
    require(verts.length <= 20000, s"${verts.length} vertices is too many for bitsets")
    val idx = mutable.LongMap.empty[Int]
    verts.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val words = (verts.length + 63) / 64
    val higher = Array.fill(verts.length)(new Array[Long](words))
    edges.foreach { case (a, b, _) =>
      val (i, j) = (math.min(idx(a), idx(b)), math.max(idx(a), idx(b)))
      higher(i)(j >>> 6) |= 1L << (j & 63)
    }
    var n = 0L
    edges.foreach { case (a, b, _) =>
      val (i, j) = (math.min(idx(a), idx(b)), math.max(idx(a), idx(b)))
      val (x, y) = (higher(i), higher(j))
      var k = 0
      while (k < words) { n += java.lang.Long.bitCount(x(k) & y(k)); k += 1 }
    }
    n
  }

  /** Communities whose induced subgraph is not connected, found by a
    * breadth-first search inside each community. */
  def disconnectedCommunities(edges: Array[Edge], label: collection.Map[Long, Long])
      : Seq[Long] = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b, _) =>
      if (label(a) == label(b)) {
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
      }
    }
    val members = label.groupBy(_._2).map { case (c, vs) => c -> vs.keys.toArray }
    members.iterator.filter { case (_, vs) =>
      val seen = mutable.LongMap.empty[Boolean]
      val queue = mutable.Queue(vs.head)
      seen(vs.head) = true
      while (queue.nonEmpty) {
        adj.getOrElse(queue.dequeue(), mutable.ArrayBuffer.empty[Long]).foreach { u =>
          if (!seen.contains(u)) { seen(u) = true; queue.enqueue(u) }
        }
      }
      seen.size != vs.length
    }.map(_._1).toSeq.sorted
  }

  /** Checks each computation above on hand-worked tiny graphs. Throws
    * on the first mismatch. */
  def selfCheck(): Unit = {
    def expect(what: String, ok: Boolean): Unit =
      if (!ok) throw new IllegalStateException(s"reference self-check failed: $what")
    // Two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4: m = 7,
    // degrees 2,2,3,3,2,2.
    val bridge: Array[Edge] = Array((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L))
    val halves = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
    // Σw_in = 6, d_c = 7 and 7: (4·7·6 − 98) / 196 = 70/196.
    expect("Q of the two triangles", modularityParts(bridge, halves) == ((BigInt(70), BigInt(196))))
    expect("Q of one community", modularity(bridge, halves.map(kv => kv._1 -> 1L)) == 0.0)
    // Singletons: −Σd² / 4m² = −34/196.
    expect("Q of singletons", modularityParts(bridge, halves.map(kv => kv._1 -> kv._1)) ==
      ((BigInt(-34), BigInt(196))))
    expect("Q comparison", modularityAtLeast(bridge, halves, halves.map(kv => kv._1 -> kv._1)))
    expect("weighted degrees", weightedDegrees(bridge).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 2L, 6L -> 2L))
    // Orders 1: {10, 11, 12}, 2: {10, 11}, 3: {12}, 4: {11, 11, 12}.
    val li = Array((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 10L), (3L, 12L),
      (4L, 11L), (4L, 11L), (4L, 12L))
    expect("co-occurrence edges", coEdges(li).toSeq ==
      Seq((10L, 11L, 2L), (10L, 12L, 1L), (11L, 12L, 2L)))
    val cc = components(bridge ++ Array((7L, 8L, 1L)))
    expect("components", cc.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 1L, 7L -> 7L, 8L -> 7L))
    // Path 1-2-3, one iteration: r1 = r3 = 0.15 + 0.85·(1/2) = 0.575,
    // r2 = 0.15 + 0.85·2 = 1.85; the sum is already 3.
    val pr = pageRank(Array((1L, 2L, 1L), (2L, 3L, 1L)), iters = 1)
    expect("PageRank", math.abs(pr(1L) - 0.575) < 1e-12 && math.abs(pr(2L) - 1.85) < 1e-12 &&
      math.abs(pr(3L) - 0.575) < 1e-12)
    expect("triangles of the bridge graph", triangles(bridge) == 2L)
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b, 1L)
    expect("triangles of K4", triangles(k4.toArray) == 4L)
    expect("connected communities", disconnectedCommunities(bridge, halves).isEmpty)
    val split = Map(1L -> 1L, 5L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 6L -> 4L)
    expect("disconnected community", disconnectedCommunities(bridge, split) == Seq(1L))
  }
}
