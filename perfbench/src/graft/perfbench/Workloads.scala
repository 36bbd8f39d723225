package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphBuilder, GraphOps}
import graft.streaming.StreamingOps

import scala.collection.mutable

/** A check on a program output that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Q values as e6 integers agree within one unit of the last digit
    * (each side rounds its own double once). */
  def sameQ(what: String, got: Long, want: Long): Unit =
    apply(math.abs(got - want) <= 1, s"$what: Q*1e6 $got, reference $want")

  /** Every vertex of `vertices` appears exactly once in `rows`. */
  def coversOnce(what: String, vertices: collection.Set[Long], ids: Array[Long]): Unit = {
    apply(ids.length == vertices.size && ids.distinct.length == ids.length &&
      ids.forall(vertices.contains),
      s"$what: ${ids.length} rows (${ids.distinct.length} distinct) for ${vertices.size} vertices")
  }
}

/** One pass over a workload's operations. Each operation is a call
  * into the program, timed on its own, followed by a check of its
  * output that is not timed.
  *
  * Before the first call and after each, untimed, the JVM runs a full
  * garbage collection: every call starts on a clean heap, and the heap
  * in use after the collection that follows a call, with the call's
  * result still held, is the live data the program keeps (memos,
  * cached blocks, collected rows). `peakHeapMb` is the largest of
  * these in the pass. */
final class Pass(val index: Int, val tracer: Tracer) {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var unexpected = false
  val values = mutable.HashMap.empty[String, Double]
  private var peakHeap = 0L

  private def liveHeap(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  def peakHeapMb: Double = peakHeap / (1024.0 * 1024.0)

  /** Runs `call` under a span named `name`, then `check` on its value.
    * An exception from either counts the operation as failed; only a
    * failure of an operation marked `knownFault` leaves the run
    * correct. */
  def op[T](name: String, knownFault: Boolean = false)(call: => T)(check: T => Unit)
      : Option[T] = {
    attempted += 1
    try {
      if (attempted == 1) liveHeap()
      val (v, s) = tracer.span(index, name)(call)
      seconds(name) = s
      peakHeap = math.max(peakHeap, liveHeap())
      check(v)
      Some(v)
    } catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (!knownFault) unexpected = true
        None
    }
  }

  def wall: Double = seconds.valuesIterator.sum
}

/** A workload: inputs made from the seed, references computed from
  * those inputs apart from the program, and the operations of a pass. */
trait Workload {
  def name: String
  def cores: Int

  /** Generates the inputs under `dir` and loads them. Timed as set-up. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit

  /** Reference results for the inputs of the last [[prepare]]. Not timed. */
  def computeReferences(spark: SparkSession): Unit

  def pass(spark: SparkSession, p: Pass): Unit

  /** One line on the inputs and reference results, for the log. */
  def summary: String

  /** More `GraphOps.louvain` calls after the passes, each with a cold
    * memo on an edge DataFrame built again, named `louvain_repeat<i>`.
    * None by default. */
  def louvainRepeats(spark: SparkSession, p: Pass): Unit = ()

  /** Traced run only: the Louvain engine the gate picks, timed alone
    * on inputs prepared beforehand, under the span `<layer>.engine`.
    * Returns (driver, GraphX) seconds and the GraphX engine's level
    * count. */
  def engines(spark: SparkSession, t: Tracer): (Double, Double, Int)
}

/** The Louvain operations every workload runs on an already-built
  * edge DataFrame, with their checks. `refEdges` are the reference
  * edges with integral weights (for fractional inputs, the weights
  * before the division). */
abstract class LouvainOps extends Workload {
  protected var refEdges: Array[Reference.Edge] = _
  protected var vertices: collection.Set[Long] = _
  /** Q×1e6 of the last pass's Louvain partition. */
  protected var louvainQ: Option[Long] = None
  /** Whether the level-Q check is known to fail on this workload's
    * engine; a failure anywhere else makes the run incorrect. */
  protected def levelQFaultKnown: Boolean

  protected def louvainOps(spark: SparkSession, p: Pass, edges: DataFrame)
      : Option[Map[Long, Long]] = {
    val assign = p.op("louvain") {
      GraphOps.louvain(spark, edges).collect()
    } { rows =>
      Check.coversOnce("louvain", vertices, rows.map(_.getLong(0)))
    }.map(_.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val qRef = assign.map(a => Reference.modularityE6(refEdges, a))
    louvainQ = qRef
    qRef.foreach { q =>
      p.values("modularity_e6") = q.toDouble
      p.values("louvain.communities") = assign.get.values.toSet.size.toDouble
    }

    val levels = p.op("levels") {
      GraphOps.louvainLevels(spark, edges).collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    } { lv =>
      Check(lv.nonEmpty, "no levels")
      qRef.foreach(q => Check.sameQ("last level", lv.last._2, q))
    }
    levels.foreach(lv => p.values("louvain.levels") = lv.length.toDouble)

    // The level trail must never lose modularity, and the partition
    // returned must be the best level's.
    p.op("level_q", knownFault = levelQFaultKnown)(()) { _ =>
      val lv = levels.getOrElse(throw new CheckFailed("no level trail"))
      val q = qRef.getOrElse(throw new CheckFailed("no Louvain partition"))
      val trail = lv.map { case (l, qe6) => s"$l:$qe6" }.mkString(" ")
      val lowered = lv.sliding(2).exists(w => w.length == 2 && w(1)._2 < w(0)._2)
      val best = lv.map(_._2).max
      if (lowered || math.abs(q - best) > 1) {
        println(s"[perfbench] $name pass ${p.index}: a Louvain level lowered Q; " +
          s"level:Q*1e6 trail $trail, returned partition Q*1e6 $q")
        throw new CheckFailed(s"level trail $trail, returned $q, best $best")
      }
    }

    p.op("leiden") {
      GraphOps.leiden(spark, edges).collect()
    } { rows =>
      Check.coversOnce("leiden", vertices, rows.map(_.getLong(0)))
      val a = assign.getOrElse(throw new CheckFailed("no Louvain partition"))
      Check(rows.forall(r => a(r.getLong(0)) == r.getLong(1)),
        "leiden: community_louvain differs from the Louvain partition")
      val refined = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
      val split = Reference.disconnectedCommunities(refEdges, refined)
      Check(split.isEmpty, s"leiden: ${split.size} communities are not connected")
      Check(Reference.modularityAtLeast(refEdges, refined, a), "leiden: Q below Louvain's")
      p.values("leiden.split_communities") =
        (refined.values.toSet.size - a.values.toSet.size).toDouble
    }
    assign
  }
}

/** Supplier co-occurrence graph built from a generated lineitem table
  * of [[Cooc.Rows]] lines, each with a uniform order key below
  * [[Cooc.Orders]] and a uniform supplier key below [[Cooc.Suppliers]]:
  * the make-up of sf0.1's lineitem at its edge density, scaled down. */
final class Cooc(val cores: Int) extends LouvainOps {
  import Cooc._
  val name = "cooc"
  protected def levelQFaultKnown = false

  private var dir: String = _
  private var streamSrc: String = _
  private var refDeg: mutable.LongMap[Long] = _
  private var refWdeg: mutable.LongMap[Long] = _
  private var refCc: mutable.LongMap[Long] = _
  private var refPr: mutable.LongMap[Double] = _
  private var refTriangles = 0L

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    dir = d
    // Keys come from a seeded hash of the row number, so the table is
    // the same however Spark splits the range.
    spark.range(0, Rows, 1, cores)
      .select(
        pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(Orders)).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(Suppliers)).as("l_suppkey"))
      .write.parquet(s"$dir/lineitem.parquet")
    // The streaming fold reads the edge list re-sharded into four
    // files, one per micro-batch, as the program's own fold does.
    streamSrc = s"$dir/stream_src"
    GraphBuilder.supplierCoEdges(spark, dir)
      .select(col("src"), col("dst"), col("weight"))
      .repartition(4)
      .write.parquet(streamSrc)
    GraphOps.clearAllMemos(spark)
  }

  def computeReferences(spark: SparkSession): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    refEdges = Reference.coEdges(li)
    vertices = refEdges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    refDeg = Reference.degrees(refEdges)
    refWdeg = Reference.weightedDegrees(refEdges)
    refCc = Reference.components(refEdges)
    refPr = Reference.pageRank(refEdges, iters = 10)
    refTriangles = Reference.triangles(refEdges)
  }

  def summary: String =
    s"edges=${refEdges.length} weight=${refEdges.map(_._3).sum} triangles=$refTriangles " +
      s"stream drift estimate (Q*1e6)=$streamGapE6"

  /** The driver engine on the rows the gate would collect: the
    * reference edges, which the checks hold equal to the program's. */
  def engines(spark: SparkSession, t: Tracer): (Double, Double, Int) = {
    val rows = refEdges.toSeq
    val (_, local) = t.span(-1, "local_louvain.engine") {
      graft.graph.LocalLouvain.clusterWithLevels(rows)
    }
    (local, 0.0, 0)
  }

  /** One Louvain call on this graph takes about a third of a second,
    * too short for one sample to be steady; fifteen more give
    * `louvain_s` a median. */
  override def louvainRepeats(spark: SparkSession, p: Pass): Unit =
    for (i <- 1 to 15) {
      GraphOps.clearAllMemos(spark)
      val edges = GraphBuilder.supplierCoEdges(spark, dir)
      p.op(s"louvain_repeat$i") {
        GraphOps.louvain(spark, edges).collect()
      } { rows =>
        Check.coversOnce("louvain", vertices, rows.map(_.getLong(0)))
        Check.sameQ("louvain repeat", Reference.modularityE6(refEdges,
          rows.map(r => r.getLong(0) -> r.getLong(1)).toMap), louvainQ.getOrElse(-1L))
      }
    }

  def pass(spark: SparkSession, p: Pass): Unit = {
    val edges = p.op("coedges") {
      GraphBuilder.supplierCoEdges(spark, dir)
    } { e =>
      val got = e.select(col("src"), col("dst"), col("weight")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      Check(got.length == refEdges.length,
        s"coedges: ${got.length} edges, reference ${refEdges.length}")
      Check(got.map(_._3).sum == refEdges.map(_._3).sum.toDouble, "coedges: total weight differs")
      Check(got.sortBy(e => (e._1, e._2)).toSeq == refEdges.map(e => (e._1, e._2, e._3.toDouble)).toSeq,
        "coedges: edge list differs")
    }.getOrElse(throw new CheckFailed("coedges failed; the pass cannot go on"))

    val assign = louvainOps(spark, p, edges)

    p.op("modularity_of") {
      val a = GraphOps.louvain(spark, edges)
        .select(col("vertex"), col("community").as("label"))
      GraphOps.modularityOf(edges, a).collect().head
    } { r =>
      val a = assign.getOrElse(throw new CheckFailed("no Louvain partition"))
      Check.sameQ("modularityOf", r.getAs[Long]("q_e6"), Reference.modularityE6(refEdges, a))
      Check(r.getAs[Long]("n_communities") == a.values.toSet.size, "modularityOf: community count")
    }

    p.op("degrees") {
      GraphOps.degrees(edges).collect()
    } { rows =>
      Check.coversOnce("degrees", vertices, rows.map(_.getLong(0)))
      Check(rows.forall(r => r.getLong(1) == refDeg(r.getLong(0)) &&
        r.getDouble(2) == refWdeg(r.getLong(0)).toDouble), "degrees: a degree differs")
      Check(rows.map(_.getDouble(2)).sum == 2.0 * refEdges.map(_._3).sum,
        "degrees: weighted degrees do not sum to twice the total weight")
    }

    p.op("cc") {
      GraphOps.connectedComponents(spark, edges).collect()
    } { rows =>
      Check.coversOnce("cc", vertices, rows.map(_.getLong(0)))
      Check(rows.forall(r => r.getLong(1) == refCc(r.getLong(0))), "cc: a component label differs")
    }

    // rank_e6 is the rank ×1e6 rounded; allow 2 units for rounding and
    // float summation order.
    p.op("pagerank") {
      GraphOps.pageRank(spark, edges).collect()
    } { rows =>
      Check.coversOnce("pagerank", vertices, rows.map(_.getLong(0)))
      val worst = rows.map(r => math.abs(r.getLong(1) - refPr(r.getLong(0)) * 1e6)).max
      Check(worst <= 2.0, f"pagerank: off by $worst%.2f e-6")
    }

    p.op("lpa") {
      GraphOps.labelPropagation(spark, edges).collect()
    } { rows =>
      Check.coversOnce("lpa", vertices, rows.map(_.getLong(0)))
      Check(rows.forall(r => vertices.contains(r.getLong(1))), "lpa: a label is not a vertex")
    }

    p.op("triangles") {
      GraphOps.triangleCount(edges).collect().head.getLong(0)
    } { n => Check(n == refTriangles, s"triangles: $n, reference $refTriangles") }

    p.op("stream") {
      foldStream(spark)
    } { case (labels, qStream) =>
      Check.coversOnce("stream", vertices, labels.map(_._1))
      Check.sameQ("streamed", qStream, Reference.modularityE6(refEdges, labels.toMap))
      p.values("stream.modularity_e6") = qStream.toDouble
    }
  }

  /** `StreamingOps.streamLouvainIncremental` step for step, with its
    * source and sink inside the benchmark's own directory: the program
    * writes them to fixed paths under `/tmp`, and a run writes only
    * inside its checkout. Fold each of the four files through
    * `mergeLouvain`; then the end-of-stream drift estimate, and when it
    * passes 50,000 (Q×1e6) the batch-Louvain refresh of the last state.
    * This copy must follow the program's: a change to the fold, the
    * estimate, its threshold or the refresh belongs here too. Returns
    * the streamed labels and `q_e6_streamed`. */
  private def foldStream(spark: SparkSession): (Array[(Long, Long)], Long) = {
    val sink = s"$dir/stream_sink"
    Main.deleteTree(new java.io.File(sink))
    val q = spark.readStream.schema(spark.read.parquet(streamSrc).schema)
      .option("maxFilesPerTrigger", "1").parquet(streamSrc)
      .writeStream.foreachBatch(StreamingOps.mergeLouvain(sink) _).start()
    try q.processAllAvailable() finally q.stop()
    val last = new java.io.File(sink).listFiles().filter(_.getName.startsWith("v"))
      .map(_.getName.drop(1).toLong).max
    val edges = GraphBuilder.supplierCoEdges(spark, dir)
    val labels = spark.read.parquet(s"$sink/v$last/labels")
    val sup = spark.read.parquet(s"$sink/v$last/super")
    val estGap = StreamingOps.louvainDriftGapE6(spark, edges, labels, sup)
    val refreshed = estGap > 50000L
    val (_, qE6) =
      if (!refreshed) StreamingOps.superIdentityQ(spark, sup)
      else {
        StreamingOps.batchAuditCount.incrementAndGet()
        val batchLab = GraphOps.louvain(spark, edges).localCheckpoint(true)
        val supFresh = StreamingOps.contractThrough(
          edges.select(col("src"), col("dst"), col("weight")), batchLab)
          .localCheckpoint(true)
        batchLab.write.mode("overwrite").parquet(s"$sink/v$last/labels")
        supFresh.write.mode("overwrite").parquet(s"$sink/v$last/super")
        StreamingOps.dropLouvainCarry(sink)
        StreamingOps.superIdentityQ(spark, supFresh)
      }
    streamGapE6 = estGap
    (spark.read.parquet(s"$sink/v$last/labels").select(col("vertex"), col("community"))
      .collect().map(r => (r.getLong(0), r.getLong(1))), qE6)
  }

  /** The last fold's drift estimate (Q×1e6), for the log. */
  private var streamGapE6 = 0L
}

object Cooc {
  val Rows = 54000L
  val Orders = 13500L
  val Suppliers = 300L
}

/** The planted-partition graph of [[Planted.generate]] with seed 1,
  * 1,000 vertices in 20 blocks, written as a parquet edge list with
  * every weight divided by 4, so the dispatch gate picks GraphX
  * Louvain; the edge DataFrame is read back once per set-up. The
  * graph does not follow `--seed`: GraphX Louvain lowers Q on it, and
  * that failure must be the same share of the operations on every
  * seed (on other planted graphs it shows on some seeds only). */
final class PlantedWorkload(val cores: Int) extends LouvainOps {
  val name = "planted_frac"
  protected def levelQFaultKnown = true
  private var graph: Planted = _
  private var edgesDf: DataFrame = _

  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    graph = Planted.generate(1L, 1000, 20, 6.0, 9.0)
    graph.edges.toSeq.map { case (a, b, w) => (a, b, w.toDouble / 4) }
      .toDF("src", "dst", "weight")
      .repartition(cores)
      .write.parquet(s"$dir/edges.parquet")
    edgesDf = spark.read.parquet(s"$dir/edges.parquet")
    edgesDf.count()
  }

  def computeReferences(spark: SparkSession): Unit = {
    refEdges = graph.edges.sortBy(e => (e._1, e._2))
    vertices = refEdges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
  }

  def summary: String =
    f"vertices=${vertices.size} edges=${refEdges.length} " +
      f"weight=${refEdges.map(_._3).sum}/4 NMI against the blocks=$lastNmi%.4f"

  /** Normalized mutual information of a partition against the planted
    * blocks (a reference figure, not a metric). */
  def nmi(assign: Map[Long, Long]): Double = {
    val nTot = assign.size.toDouble
    def h(counts: Iterable[Int]) = -counts.map(c => c / nTot * math.log(c / nTot)).sum
    val joint = assign.toSeq.groupBy { case (v, c) => (graph.block(v), c) }.values.map(_.size)
    val pa = assign.toSeq.groupBy(kv => graph.block(kv._1)).values.map(_.size)
    val pc = assign.values.groupBy(identity).values.map(_.size)
    val mi = h(pa) + h(pc) - h(joint)
    if (h(pa) + h(pc) == 0) 1.0 else 2 * mi / (h(pa) + h(pc))
  }

  var lastNmi = 0.0

  def pass(spark: SparkSession, p: Pass): Unit =
    louvainOps(spark, p, edgesDf).foreach(a => lastNmi = nmi(a))

  def engines(spark: SparkSession, t: Tracer): (Double, Double, Int) = {
    val g = GraphBuilder.toGraphX(edgesDf)
    val ((assignment, levels), s) = t.span(-1, "graphx_louvain.engine") {
      val (a, lv) = graft.graph.Louvain.run(g)
      a.count()
      (a, lv)
    }
    assignment.unpersist(blocking = false)
    (0.0, s, levels.size)
  }
}
