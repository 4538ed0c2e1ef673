package perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The raster query family of the traced scene_resample run: the
  * queries named in `<in>/queries.txt`, through `SparkEntry.queries`,
  * over the generated table directory `<in>/tables`.  A cold pass
  * writes each result to `<in>/qout/<name>` for the output check; it
  * also pays planning, codegen and the session-shared tile frame of
  * `TiledRaster.tiles`, which the measured pass then reads, as
  * graft.Bench's warm runs do.  The measured pass runs each query into
  * a noop sink and keeps its wall time and the counters of its jobs
  * and actions, beside its oracle SQL. */
object RasterQueries {
  def run(spark: SparkSession, in: Path, counters: Counters, out: ObjectNode): Unit = {
    val dir = in.resolve("tables").toString
    val names = PerfBench.readFile(in.resolve("queries.txt")).split("\n")
      .map(_.trim).filter(_.nonEmpty).toSeq
    def path(name: String) = in.resolve("qout").resolve(name).toString
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    names.foreach(n => SparkEntry.queries(n)(spark, dir).write.parquet(path(n)))
    out.put("cold_pass_s", (System.nanoTime() - t0) / 1e9)
    val qs = out.putObject("runs")
    names.foreach { n =>
      org.apache.spark.perfbench.BusDrain(sc)
      counters.clear()
      val t1 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t1) / 1e9
      org.apache.spark.perfbench.BusDrain(sc)
      val q = qs.putObject(n)
      q.put("s", s)
      counters.toJson(q)
      q.put("oracle_sql", SparkEntry.oracleSql(n))
      q.put("path", path(n))
    }
  }
}
