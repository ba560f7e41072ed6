package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.QuerySpec
import graft.operators._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The operator surface: declared `SparkEntry.specs` queries over the
  * sf0.01 fixture, one query in flight at a time, each driven through
  * the noop sink (every output column materialized, nothing kept).
  */
object Ops {

  /** The 16 operator modules, in `SparkEntry.specs` order. */
  val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "Relational" -> Relational.specs, "TextOps" -> TextOps.specs,
    "DedupOps" -> DedupOps.specs, "SimilarityOps" -> SimilarityOps.specs,
    "MultimodalOps" -> MultimodalOps.specs, "WindowOps" -> WindowOps.specs,
    "TemporalOps" -> TemporalOps.specs, "PipelineOps" -> PipelineOps.specs,
    "ScaleJoins" -> ScaleJoins.specs, "CurationOps" -> CurationOps.specs,
    "TypedOps" -> TypedOps.specs, "GraphOps" -> GraphOps.specs,
    "ModernSqlOps" -> ModernSqlOps.specs, "GeoOps" -> GeoOps.specs,
    "StatsOps" -> StatsOps.specs, "DegenerateProbes" -> DegenerateProbes.specs,
  )

  final case class Query(module: String, spec: QuerySpec, goldenRows: Long)

  /** The measured set: the first declared spec of each module. Fixed, so
    * every seed times the same queries; the seed only shuffles their order.
    */
  def selection(golden: Map[String, Long]): Seq[Query] = {
    val declared = graft.SparkEntry.specs.map(_.name)
    require(modules.flatMap(_._2.map(_.name)) == declared,
      "SparkEntry.specs no longer matches the benchmark's module list")
    modules.map { case (m, specs) =>
      val s = specs.head
      Query(m, s, golden.getOrElse(s.name,
        throw new IllegalStateException(s"no golden row count for ${s.name}")))
    }
  }

  def readGolden(f: File): Map[String, Long] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).toArray(Array.empty[String])
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val Array(n, r) = l.split("\t"); n -> r.toLong }
      .toMap

  final case class Timing(query: Query, seconds: Double, planS: Double, error: Option[String])

  /** One query: construct, then write to the noop sink; its row count is
    * observed on the way and compared with the golden count.
    */
  def runQuery(spark: SparkSession, dir: String, q: Query, trace: Option[Trace]): Timing = {
    val obs = Observation()
    var planS = 0.0
    val t0 = System.nanoTime()
    val err =
      try {
        def body(): Unit = {
          val df = q.spec.fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
          if (trace.isDefined) {
            df.queryExecution.executedPlan
            planS = (System.nanoTime() - t0) / 1e9
          }
          df.write.format("noop").mode("overwrite").save()
        }
        trace match {
          case Some(t) => t.span(s"ops.${q.module}")(body())
          case None => body()
        }
        val rows = obs.get("rows").asInstanceOf[Long]
        if (rows == q.goldenRows) None
        else Some(s"${q.spec.name}: $rows rows, golden ${q.goldenRows}")
      } catch {
        case e: Exception => Some(s"${q.spec.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    Timing(q, (System.nanoTime() - t0) / 1e9, planS, err)
  }

  /** Per-module metrics of one traced pass. */
  def layerMetrics(timings: Seq[Timing], spans: Seq[Trace.Span], cores: Int): Map[String, Double] = {
    val byModule = timings.groupBy(_.query.module)
    modules.map(_._1).flatMap { m =>
      val ts = byModule.getOrElse(m, Nil)
      val wall = ts.map(_.seconds).sum
      val task = spans.filter(_.name == s"ops.$m").map(s => Trace.subtreeWork(s, spans).runS).sum
      Seq(
        s"ops.$m.wall_s" -> wall,
        s"ops.$m.plan_s" -> ts.map(_.planS).sum,
        s"ops.$m.task_s" -> task,
        s"ops.$m.idle_frac" -> (if (wall <= 0) 0.0 else 1.0 - task / (wall * cores)),
        s"ops.$m.failed" -> ts.count(_.error.isDefined).toDouble,
      )
    }.toMap
  }
}
