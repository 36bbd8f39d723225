package graft.perfbench

import java.util.SplittableRandom

/** Seeded planted-partition graph: `n` vertices in `blocks` equal
  * blocks, a fixed number of intra-block and inter-block edges drawn
  * uniformly without repetition, and integral weights 2..9.
  *
  * Vertex ids are a seeded permutation of 0 until n, so block
  * membership does not follow id order (the engines' tie-breaks and
  * move parities are id-ordered). Edge counts are fixed by the
  * parameters, not drawn, so every seed does the same amount of work.
  */
final case class Planted(
    edges: Array[(Long, Long, Long)],
    block: Map[Long, Int]) {
  def n: Int = block.size
}

object Planted {

  def generate(seed: Long, n: Int, blocks: Int, intraDeg: Double,
      interDeg: Double): Planted = {
    require(n % blocks == 0, s"$n vertices do not split into $blocks blocks")
    val rnd = new SplittableRandom(seed)
    val ids = (0 until n).map(_.toLong).toArray
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    // Position p of the permutation holds the vertex of block p / size.
    val size = n / blocks
    val nIntra = math.round(n * intraDeg / 2).toInt
    val nInter = math.round(n * interDeg / 2).toInt
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = Array.newBuilder[(Long, Long, Long)]
    def add(p: Int, q: Int): Boolean = {
      val (a, b) = (ids(p), ids(q))
      val k = if (a < b) (a, b) else (b, a)
      if (p == q || !seen.add(k)) false
      else { out += ((k._1, k._2, 2L + rnd.nextInt(8))); true }
    }
    var c = 0
    while (c < nIntra) {
      val b = rnd.nextInt(blocks)
      if (add(b * size + rnd.nextInt(size), b * size + rnd.nextInt(size))) c += 1
    }
    c = 0
    while (c < nInter) {
      val p = rnd.nextInt(n); val q = rnd.nextInt(n)
      if (p / size != q / size && add(p, q)) c += 1
    }
    val block = (0 until n).map(p => ids(p) -> p / size).toMap
    Planted(out.result(), block)
  }
}
