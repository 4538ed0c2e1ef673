package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.Plugins._

/** Persist-once-per-job: the valid-fraction check and every sink read one
  * persisted copy of each area frame, and the job releases every copy it
  * made when it ends — committed, aborted, or failed mid-save. */
class JobCacheSpec extends SparkSpec {

  private def cacheEntries: Int = org.apache.spark.sql.CacheProbe.entries(spark)

  /** A 16×16 scene of products a and b (every 7th cell null) as one
    * parquet file, like a reader's input. */
  private lazy val scenePath: String = {
    val dir = Files.createTempDirectory("graft_jobcache_scene").resolve("scene")
    spark.range(256).select(
        when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("product"),
        (col("id") / 16).cast("long").as("y"), (col("id") % 16).as("x"),
        when(col("id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("id").cast("double")).as("value"))
      .union(spark.range(256).select(
        when(col("id") % 2 === 0, lit("b")).otherwise(lit("a")).as("product"),
        (col("id") / 16).cast("long").as("y"), (col("id") % 16).as("x"),
        (col("id") * 0.5).as("value")))
      .coalesce(1).write.parquet(dir.toString)
    dir.toString
  }

  /** Native + 3 resampled areas (average, nearest, bilinear) × products
    * a and b, one parquet file each: 8 sinks. */
  private val spec = ProductList(areas =
    (None +: Seq("avg", "near", "bil").map(Option(_))).map { area =>
      AreaSpec(area, products = Seq("a", "b").map(p =>
        ProductSpec(p, formats = Seq(FormatSpec("parquet")))))
    })

  private def ctx0 = PipelineContext(spark, spec, Map.empty,
    frames = Map.empty, worklist = Worklist.expand(spec))

  private val scene = CreateScene(Seq(scenePath))
  private val resample = Resample(Seq(
    ResampleTarget("avg", 4, 4, 0, 16, 0, 16, mode = "average"),
    ResampleTarget("near", 4, 4, 0, 16, 0, 16, mode = "nearest"),
    ResampleTarget("bil", 4, 4, 0, 16, 0, 16, mode = "bilinear")))
  private val cvdf = CheckValidDataFraction(minFraction = 0.5)

  private def partFiles(dir: String): Int =
    Paths.get(dir).toFile.listFiles().count(_.getName.startsWith("part-"))

  test("counter pin: CVDF fills the area copies in one pass; each sink is one write job") {
    val out = Files.createTempDirectory("graft_jobcache_pin").toString
    val planned = resample(scene(ctx0))
    val before = cacheEntries
    val (checked, cvdfCost) = Profiling.measure(spark)(cvdf(planned))
    val (saved, saveCost) = Profiling.measure(spark)(SaveDatasets(out)(checked))
    try {
      assert(saved.aborted.isEmpty, saved.aborted)
      assert(saved.manifest.size == 8)
      // 3 area copies from CVDF, the native frame (2 sinks) from save
      assert(saved.cached.map(_.key).toSet ==
        Set(None, Some("avg"), Some("near"), Some("bil")))
      assert(cacheEntries == before + 4)
      // CVDF: the three area plans' own query stages (AQE runs each as
      // a job; 9 here) plus ONE pass that fills every copy and observes
      // the fractions
      assert(cvdfCost.jobs == 10, s"CVDF jobs: $cvdfCost")
      // save: every sink is exactly one write job — no re-resample and
      // no separate cache-fill job
      assert(saveCost.jobs == saved.manifest.size, s"save jobs: $saveCost")
      assert(saveCost.shuffleWriteBytes == 0L, s"save reshuffled: $saveCost")
    } finally saved.cached.foreach(_.df.unpersist(blocking = true))
    assert(cacheEntries == before)

    // same part-file count as each slice written straight from its plan
    val bare = Files.createTempDirectory("graft_jobcache_bare")
    saved.manifest.foreach { f =>
      val dst = bare.resolve(Paths.get(f.path).getFileName).toString
      planned.frames(f.area).filter(col("product") === f.product)
        .write.parquet(dst)
      assert(partFiles(f.path) == partFiles(dst), f.path)
    }
  }

  test("release: a full CVDF -> save chain leaves no cache entry behind") {
    val out = Files.createTempDirectory("graft_jobcache_full").toString
    val before = cacheEntries
    var during = -1
    val spy = new Plugin {
      val name = "spy"
      def apply(ctx: PipelineContext): PipelineContext = { during = cacheEntries; ctx }
    }
    val reports = Runner.processJobs(ctx0,
      Seq(scene, resample, cvdf, SaveDatasets(out), spy, CheckResults()))
    val done = reports.head.finalCtx
    assert(done.aborted.isEmpty, done.aborted)
    assert(done.manifest.size == 8)
    assert(during == before + 4, "the chain persisted its frames")
    assert(done.cached.isEmpty)
    assert(cacheEntries == before)
  }

  test("release: a chain aborted between CVDF and save leaves no cache entry behind") {
    val out = Files.createTempDirectory("graft_jobcache_abort")
    val before = cacheEntries
    var during = -1
    val stop = new Plugin {
      val name = "stop"
      def apply(ctx: PipelineContext): PipelineContext = {
        during = cacheEntries
        ctx.abort("stopped before save")
      }
    }
    val reports = Runner.processJobs(ctx0,
      Seq(scene, resample, cvdf, stop, SaveDatasets(out.toString)))
    assert(reports.head.finalCtx.aborted.contains("stopped before save"))
    assert(during == before + 3, "CVDF persisted the area frames")
    assert(cacheEntries == before)
    assert(Files.list(out).count() == 0)
  }

  test("release: a save whose second sink's writer fails releases its copies") {
    val out = Files.createTempDirectory("graft_jobcache_fail").toString
    val twoSinks = ProductList(areas = Seq(AreaSpec(Some("avg"),
      products = Seq(ProductSpec("a", formats = Seq(FormatSpec("parquet"),
        FormatSpec("bad", Map("writer" -> "no_such_format"))))))))
    val planned = resample(scene(ctx0.copy(spec = twoSinks,
      worklist = Worklist.expand(twoSinks))))
    val before = cacheEntries
    val e = intercept[RuntimeException](SaveDatasets(out)(planned))
    assert(e.getMessage.contains("save_datasets failed"), e.getMessage)
    assert(Files.exists(Paths.get(out, "avg_a.parquet")), "first sink was written")
    assert(cacheEntries == before)
    // and through the runner, after CVDF's copies too
    val reports = Runner.processJobs(
      ctx0.copy(spec = twoSinks, worklist = Worklist.expand(twoSinks)),
      Seq(scene, resample, cvdf, SaveDatasets(out)))
    assert(reports.head.finalCtx.aborted.exists(_.contains("save_datasets crashed")))
    assert(cacheEntries == before)
  }
}
