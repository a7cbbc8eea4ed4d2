package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.pipeline.M33Pipeline
import graft.sinks.JdbcSink
import graft.sources.M33Fixture

/** One benchmark run in a fresh JVM: `Harness <plan.json>`.
  *
  * The plan is the generated schedule (see run.py): the workload, the
  * ordered ops of every warm-up and measured pass, and the run's private
  * directories. The harness opens the engine's own session profile
  * (`Engine.session` on local[N]), runs the passes as a closed loop with
  * one client, checks outputs once after the timed window and writes raw
  * timings, spans and job records as JSON. All metric arithmetic is done
  * by metrics.py from that file. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The engine-side view of one op's result, kept for the output check. */
  private final case class Output(rows: Array[Row], schema: org.apache.spark.sql.types.StructType)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val workload = plan.get("workload").asText
    val runDir = plan.get("run_dir").asText
    val cpus = plan.get("cpus").asInt
    val opTimeoutMs = plan.get("op_timeout_s").asLong * 1000L
    val tracer = new Tracer(workload)
    val counter = new JobCounter
    val traced = plan.get("trace").asBoolean
    tracer.enabled = traced
    counter.enabled = traced

    val setupSpan = tracer.nextId()
    val setupStart = Clock.nowUs()
    plan.get("pre_spans").elements().asScala.foreach { s =>
      tracer.record(tracer.nextId(), setupSpan, s.get("name").asText, "",
        s.get("start_us").asLong, s.get("end_us").asLong)
    }

    val spark = tracer.span("core.session_start") {
      Engine.session(
        master = s"local[$cpus]",
        appName = "perfbench",
        extraConf = Map(
          "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
          "spark.local.dir" -> s"$runDir/spark-local",
          "spark.hadoop.hadoop.tmp.dir" -> s"$runDir/tmp"))
    }
    val sessionEnd = Clock.nowUs()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if (traced) sc.addSparkListener(counter)

    val ops: Workload = workload match {
      case "elt_m33" => new EltOps(spark, tracer, runDir,
        plan.get("m33_rows_per_file").asInt)
      case _ => new CatalogOps(spark, tracer, plan.get("data_dir").asText)
    }

    // untimed warm-up: the first touch of every op. The warm-up pass is
    // untraced, so no span or job of it reaches the layer metrics.
    val passes = plan.get("passes").elements().asScala.toSeq
    val warmups = passes.filter(_.get("kind").asText == "warmup")
    val measured = passes.filter(_.get("kind").asText == "measure")
    val warmStart = Clock.nowUs()
    warmups.foreach(p => runPass(spark, ops, tracer, counter, p, opTimeoutMs, keep = false))
    val warmEnd = Clock.nowUs()
    if (traced) {
      tracer.record(tracer.nextId(), setupSpan, "setup.warmup", "", warmStart, warmEnd)
      tracer.record(setupSpan, 0L, "setup", "", setupStart, warmEnd)
    }

    val firstTimedUs = Clock.nowUs()
    val passRecords = measured.zipWithIndex.map { case (p, i) =>
      val rec = runPass(spark, ops, tracer, counter, p, opTimeoutMs, keep = i == 0)
      if (p.get("traced").asBoolean) ops.afterTracedPass()
      rec
    }
    tracer.enabled = false
    counter.enabled = false

    val checks = ops.check()
    if (traced) org.apache.spark.PerfbenchBus.drain(sc)
    val result = Map(
      "workload" -> workload,
      "session_start_s" -> (sessionEnd - setupStart) / 1e6,
      "first_timed_us" -> firstTimedUs,
      "warmup_s" -> (warmEnd - warmStart) / 1e6,
      "passes" -> passRecords,
      "checks" -> checks,
      "spans" -> tracer.spans,
      "jobs" -> (if (traced) counter.records else Nil),
      "host" -> Map(
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap))
    mapper.writeValue(new File(plan.get("out").asText), result)
    ops.close()
    spark.stop()
  }

  /** Run one pass's ops in order; each op gets its own job group and a
    * watchdog that cancels the group if the op overruns. */
  private def runPass(
      spark: SparkSession, ops: Workload, tracer: Tracer, counter: JobCounter,
      pass: JsonNode, opTimeoutMs: Long, keep: Boolean): Map[String, Any] = {
    val traced = pass.get("traced").asBoolean
    tracer.enabled = traced
    counter.enabled = traced
    val sc = spark.sparkContext
    val gc0 = gcMs()
    val names = pass.get("ops").elements().asScala.map(_.asText).toSeq
    val passStart = Clock.nowUs()
    val opRecords = tracer.span("pass") {
      names.map { op =>
        tracer.span("op", op) {
          val group = s"pb-${tracer.current}-$op-${System.nanoTime()}"
          sc.setJobGroup(group, op, interruptOnCancel = true)
          val watchdog = new java.util.Timer("perfbench-watchdog", true)
          watchdog.schedule(new java.util.TimerTask {
            override def run(): Unit = sc.cancelJobGroupAndFutureJobs(group,
              s"op $op exceeded ${opTimeoutMs / 1000}s")
          }, opTimeoutMs)
          val t0 = Clock.nowUs()
          val error = try { ops.run(op, keep); None }
            catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
          val t1 = Clock.nowUs()
          watchdog.cancel()
          sc.clearJobGroup()
          ops.teardown()
          error.foreach(e => System.err.println(s"[perfbench] $op FAILED: $e"))
          Map("op" -> op, "start_us" -> t0, "end_us" -> t1,
            "ok" -> error.isEmpty, "error" -> error.getOrElse(""))
        }
      }
    }
    val passEnd = Clock.nowUs()
    Map("kind" -> pass.get("kind").asText, "traced" -> traced,
      "start_us" -> passStart, "end_us" -> passEnd,
      "gc_ms" -> (gcMs() - gc0), "ops" -> opRecords)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The ops of one workload. */
  trait Workload {
    def run(op: String, keep: Boolean): Unit
    def teardown(): Unit = ()
    def afterTracedPass(): Unit = ()
    def check(): Map[String, Any]
    def close(): Unit = ()
  }

  /** Catalog entries (`SparkEntry.queries`), materialised with `collect()`
    * as an analyst's client would. The first measured pass keeps each
    * op's rows; `check` writes them as parquet for the DuckDB oracle. */
  final class CatalogOps(spark: SparkSession, tracer: Tracer, dataDir: String)
      extends Workload {
    private val fns = graft.SparkEntry.queries
    private val kept = scala.collection.mutable.LinkedHashMap.empty[String, Output]
    private val ran = scala.collection.mutable.Set.empty[String]
    private val outDir = new File(dataDir).getParent + "/outputs"

    def run(op: String, keep: Boolean): Unit = {
      ran += op
      val df = tracer.span("catalog.build", op)(fns(op)(spark, dataDir))
      val rows = tracer.span("core.collect", op)(df.collect())
      if (keep) kept(op) = Output(rows, df.schema)
    }

    /** The per-entry reset `graft.Bench` applies between entries: SQL
      * cache, checkpointed RDD blocks and temp views do not leak into the
      * next op. Untimed. */
    override def teardown(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sessionState.catalog.getTempViewNames().foreach(spark.catalog.dropTempView)
    }

    def check(): Map[String, Any] = Map("outputs_dir" -> outDir,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (op, _) => ran(op) },
      "written" -> kept.map { case (op, o) =>
        spark.createDataFrame(o.rows.toSeq.asJava, o.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$op")
        op -> o.rows.length
      }.toMap)
  }

  /** The reference pipeline: raw text -> typed view -> CSV CTAS, then the
    * Sqoop-style JDBC export into embedded Derby and a 100-row read-back.
    * Each cycle's order is fixed by data dependence. */
  final class EltOps(spark: SparkSession, tracer: Tracer, runDir: String, rowsPerFile: Int)
      extends Workload {
    private val warehouse = s"$runDir/warehouse"
    private val ctasPath = new File(warehouse, "m33").getAbsolutePath
    private val url = s"jdbc:derby:$runDir/derby/m33db;create=true"
    private val createSql =
      "CREATE TABLE m33 (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)"
    private var readBack: Array[Row] = Array.empty

    System.setProperty("derby.system.home", s"$runDir/derby")
    JdbcSink.tuneEmbeddedDerbyForBulkLoad()
    private val m33Root = tracer.span("sources.fixture_gen") {
      M33Fixture.generate(s"$runDir/fixture", rowsPerFile)
    }
    JdbcSink.execStatements(url, Seq(createSql))

    def run(op: String, keep: Boolean): Unit = op match {
      case "ctas" =>
        val raw = tracer.span("sources.rawTable", op)(M33Pipeline.rawTable(spark, m33Root))
        val view = tracer.span("pipeline.schemView", op)(M33Pipeline.schemView(raw))
        tracer.span("pipeline.ctasCsv", op)(M33Pipeline.ctasCsv(view, warehouse, "m33"))
      case "export" =>
        tracer.span("sinks.ddl", op)(JdbcSink.execStatements(url, Seq("DROP TABLE m33", createSql)))
        val df = tracer.span("pipeline.readM33Csv", op)(M33Pipeline.readM33Csv(spark, ctasPath))
        tracer.span("sinks.export", op)(
          JdbcSink.export(df, url, "m33", numMappers = 4, batchSize = 10000))
      case "readback" =>
        readBack = tracer.span("sinks.readBack", op)(
          JdbcSink.readBack(spark, url, "m33", 100).collect())
    }

    /** The Spark half of the export alone: the same input, repartitioned
      * to the 4 mappers, materialised through the `noop` sink. Export wall
      * minus this is the Derby side. Traced passes only, outside the pass. */
    override def afterTracedPass(): Unit = {
      val sc = spark.sparkContext
      tracer.span("op", "export_spark") {
        sc.setJobGroup(s"pb-${tracer.current}-export_spark", "export_spark")
        tracer.span("sinks.export_spark", "export_spark") {
          M33Pipeline.readM33Csv(spark, ctasPath).repartition(4)
            .write.format("noop").mode("overwrite").save()
        }
        sc.clearJobGroup()
      }
    }

    def check(): Map[String, Any] = {
      val csv = M33Pipeline.readM33Csv(spark, ctasPath)
      val groups = csv.groupBy(col("age_mil"), col("is_peculiar"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("flam") * 10).cast("long")).as("flam10"),
          sum(round(col("wavelength") * 100).cast("long")).as("cents"))
        .collect().map(r => Seq(r.getLong(0), r.getInt(1).toLong, r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val jdbc = {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val rs = conn.createStatement().executeQuery(
            """SELECT age_mil, is_peculiar, COUNT(*),
              |  SUM(CAST(flam * 10 + 0.5 AS BIGINT)),
              |  SUM(CAST(wavelength * 100 + 0.5 AS BIGINT))
              |FROM m33 GROUP BY age_mil, is_peculiar""".stripMargin)
          Iterator.continually(rs).takeWhile(_.next()).map(r =>
            (1 to 5).map(r.getLong)).toList
        } finally conn.close()
      }
      val readBackFound =
        if (readBack.isEmpty) 0L
        else spark.createDataFrame(readBack.toSeq.asJava, csv.schema)
          .join(csv, Seq("age_mil", "wavelength", "flam", "is_peculiar"), "left_semi")
          .count()
      Map("ctas_groups" -> groups, "jdbc_groups" -> jdbc,
        "readback_rows" -> readBack.length, "readback_found" -> readBackFound)
    }

    override def close(): Unit =
      try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
      catch { case _: java.sql.SQLException => () } // a clean shutdown throws
  }
}
