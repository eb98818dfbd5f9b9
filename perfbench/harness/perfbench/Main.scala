package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}
import org.apache.spark.sql.execution.SparkPlan

import graft.{SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.sources._
import graft.streaming.DocumentUpsertStream

/** Benchmark harness: one closed-loop client driving the engine's public
  * API on a single `local[N]` session.
  *
  * It sets up the session several times (start, function registration,
  * registry lookup, one flagship query), warms the workload up once,
  * untimed, then runs the given passes until the time budget is spent,
  * always finishing the pass it is in.
  * Each operation's timed span covers exactly the calls a user would
  * make; output digests and every check happen after the span closes.
  * With tracing on, passes alternate untraced and traced so the report
  * carries the tracing overhead, and traced passes record spans and
  * listener counts per layer. The raw report goes to `--out` as JSON;
  * `run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload queries|etl --data DIR --work DIR
  *   --out FILE --seconds S --trace 0|1 --seed N --cores N --setups K
  *   [--passes "a,b;c,d"] [--warmup "a,b"] [--rows N] [--spans FILE]
  */
object Main {

  final case class Op(name: String, ok: Boolean, latencyS: Double, rows: Long,
      hash: String, error: String, detail: Map[String, Any])

  final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
      val work: String, val cores: Int, val seed: Long)

  trait Workload {
    def warmup(ctx: Ctx): Unit
    def passCount: Int
    def pass(ctx: Ctx, p: Int): Seq[Op]
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "etl" => new Etl(a("rows").toLong)
      case "queries" =>
        new Queries(a("passes").split(';').toSeq.map(_.split(',').toSeq),
          a.get("warmup").map(_.split(',').toSeq).getOrElse(Nil))
    }

    // Set-up, several times: session start, function registration, the
    // query registry and the flagship query once. The first set-up in a
    // process is the cold one; later ones are what each new session costs.
    val setups = (1 to a("setups").toInt).map { k =>
      val gc0 = gcMs(); val jit0 = jitMs()
      val t0 = System.nanoTime()
      val (spark, sessionS) = timed(session(cores, work))
      GraftFunctions.register(spark)
      val (registry, registryS) = timed(SparkEntry.queries)
      val entryS = timed(registry("q10_agg_basic")(spark, a("data")).collect())._2
      spark.catalog.clearCache()
      val s = (System.nanoTime() - t0) / 1e9
      val rec = Map("setup_s" -> s, "session_s" -> sessionS, "registry_s" -> registryS,
        "entry_s" -> entryS, "gc_s" -> (gcMs() - gc0) / 1e3, "jit_s" -> (jitMs() - jit0) / 1e3)
      if (k < a("setups").toInt) spark.stop()
      rec -> spark
    }
    val ctx = new Ctx(setups.last._2, new Tracer(setups.last._2.sparkContext), a("data"), work, cores, seed)
    val warmupS = timed(workload.warmup(ctx))._2
    ctx.spark.catalog.clearCache()

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // Traced runs alternate untraced and traced passes, untraced first and
    // last, so warming through the run does not bias the tracing overhead.
    def minPasses = if (traced) 3 else 1
    def nextFits = {
      val walls = passes.map(_("wall_s").asInstanceOf[Double])
      walls.isEmpty || elapsed + walls.sorted.apply(walls.size / 2) <= seconds
    }
    while (p < workload.passCount && (p < minPasses || nextFits)) {
      val tracedPass = traced && p % 2 == 1
      ctx.tracer.enable(tracedPass)
      val w0 = System.nanoTime()
      val ops = ctx.tracer.span("pass", 0, p)(workload.pass(ctx, p))
      val wall = (System.nanoTime() - w0) / 1e9
      val layers = if (tracedPass) Layers.ofPass(ctx, p, ops) else Map.empty
      ctx.tracer.enable(false)
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> wall,
        "ops" -> ops.map(o => Map("name" -> o.name, "ok" -> o.ok, "latency_s" -> o.latencyS,
          "rows" -> o.rows, "hash" -> o.hash, "error" -> o.error, "detail" -> o.detail)),
        "layers" -> layers)
      p += 1
    }
    val measuredS = elapsed
    val spans = if (traced) Layers.spansJson(ctx) else Nil
    val oracle = workload match {
      case q: Queries => SparkEntry.oracleSql.filter { case (k, _) => q.names(k) }
      case _ => Map.empty[String, String]
    }
    val conf = ctx.spark.conf
    val report = Map(
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> ctx.spark.sparkContext.master,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "split_size" -> conf.get("spark.sql.files.maxPartitionBytes"),
        "adaptive" -> conf.get("spark.sql.adaptive.enabled"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> ctx.spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "setups" -> setups.map(_._1),
      "warmup_s" -> warmupS,
      "passes" -> passes,
      "measured_s" -> measuredS,
      "oracle_sql" -> oracle,
      "peak_rss_mb" -> peakRssMb())
    ctx.spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json.write(report))
    if (traced) java.nio.file.Files.write(java.nio.file.Paths.get(a("spans")),
      spans.map(Json.write).asJava)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def failed(name: String, latencyS: Double, e: Throwable): Op =
    Op(name, ok = false, latencyS, 0L, "", s"${e.getClass.getName}: ${e.getMessage}".take(300), Map.empty)

  /** Declared queries. An operation builds the query and collects it: the
    * collect computes every output column and the final ordering, which
    * a `count()` would let the optimizer skip.
    */
  final class Queries(passes: Seq[Seq[String]], warm: Seq[String]) extends Workload {
    def passCount: Int = passes.size

    /** Declared queries whose oracle SQL the report needs. */
    def names: Set[String] = passes.flatten.map {
      case "inject.wrong" => "q10_agg_basic"
      case n => n
    }.toSet

    def warmup(ctx: Ctx): Unit = warm.foreach(n => run(ctx, n, 0, -1))

    def pass(ctx: Ctx, p: Int): Seq[Op] =
      passes(p).zipWithIndex.map { case (n, i) => run(ctx, n, i + 1, p) }

    private def build(ctx: Ctx, name: String): DataFrame = name match {
      // Self-check operations: one throws, one returns a wrong result.
      case "inject.throw" => Tables.load(ctx.spark, s"${ctx.data}/missing", "region")
      case "inject.wrong" => SparkEntry.queries("q10_agg_basic")(ctx.spark, ctx.data).limit(1)
      case _ => SparkEntry.queries(name)(ctx.spark, ctx.data)
    }

    private def run(ctx: Ctx, name: String, op: Int, p: Int): Op = {
      val t0 = System.nanoTime()
      try {
        val (df, rows) = ctx.tracer.span("op", op, p) {
          val df = ctx.tracer.span("queries.build", op, p)(build(ctx, name))
          (df, ctx.tracer.span("exec.collect", op, p)(df.collect()))
        }
        val latency = (System.nanoTime() - t0) / 1e9
        val d = Canon.digest(df.schema.fieldNames.toSeq, rows)
        val detail = if (!ctx.tracer.enabled) Map.empty[String, Any] else {
          val qe = df.queryExecution
          val phases = qe.tracker.phases
          def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
          Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
            "planning_ms" -> ms("planning"), "exchanges" -> exchanges(qe.executedPlan))
        }
        ctx.spark.catalog.clearCache()
        Op(name, ok = true, latency, d.rows, d.hash, null, detail)
      } catch {
        case e: Throwable =>
          val latency = (System.nanoTime() - t0) / 1e9
          ctx.spark.catalog.clearCache()
          failed(name, latency, e)
      }
    }
  }

  /** Shuffle exchanges in the final (adaptive) plan, query stages included. */
  def exchanges(plan: SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val self = plan match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case x => x.children
    }
    self + kids.map(exchanges).sum
  }

  /** The reference's Parquet ETL round trip, one phase per operation:
    * generate → write, read, batch upsert into an in-memory store, a
    * file-source stream upserting into a JSONL store, and export of both
    * stores back to Parquet. Row counts are checked at every phase, and
    * what the scan and both exports return must equal, as content, the
    * table the generator produces. Content is compared in the generated
    * schema after the stores' documented coercions are undone: schema
    * inference turns booleans into int64 (compared as 0/1), and the JSONL
    * store keeps dates and timestamps as ISO-8601 strings.
    */
  final class Etl(n: Long) extends Workload {
    private val filesPerPass = 4
    private var schema: StructType = _
    private var expected: Canon.Digest = _

    def passCount: Int = Int.MaxValue

    /** Digests the generated table once, then runs one round trip at n/10. */
    def warmup(ctx: Ctx): Unit = {
      val generated = Generators.big50(ctx.spark, n, ctx.seed)
      schema = generated.schema
      val c = canonical(generated)
      expected = Canon.digest(c.columns.toSeq, c.collect())
      roundTrip(ctx, -1, math.max(1L, n / 10), null).find(!_.ok)
        .foreach(o => sys.error(s"warm-up ${o.name} failed: ${o.error}"))
    }

    def pass(ctx: Ctx, p: Int): Seq[Op] = roundTrip(ctx, p, n, expected)

    private def canonical(df: DataFrame): DataFrame = df.select(schema.fields.toSeq.map { f =>
      col(f.name).cast(if (f.dataType == BooleanType) LongType else f.dataType).as(f.name)
    }: _*)

    /** Times `body` as one operation; `check` runs after the timed span,
      * adds figures to the detail, and fails the operation by throwing.
      */
    private def phase(ctx: Ctx, p: Int, idx: Int, name: String, rows: Long)(
        body: => Map[String, Any])(check: => Map[String, Any]): Op = {
      val t0 = System.nanoTime()
      try {
        val detail = ctx.tracer.span("op", idx, p)(ctx.tracer.span(name, idx, p)(body))
        val latency = (System.nanoTime() - t0) / 1e9
        Op(name, ok = true, latency, rows, "", null, detail ++ ctx.tracer.span("check", idx, p)(check))
      } catch { case e: Throwable => failed(name, (System.nanoTime() - t0) / 1e9, e) }
    }

    private def roundTrip(ctx: Ctx, p: Int, rows: Long, want: Canon.Digest): Seq[Op] = {
      val spark = ctx.spark
      val dir = s"${ctx.work}/etl/pass$p"
      val (gen, store, sink) = (s"$dir/generated", s"$dir/store", s"perfbench_pass$p")
      def sameContent(what: String, df: DataFrame): Unit = {
        val c = canonical(df)
        val d = Canon.digest(c.columns.toSeq, c.collect())
        if (d.rows != rows) sys.error(s"$what holds ${d.rows} of $rows rows")
        if (want != null && d.hash != want.hash)
          sys.error(s"$what content ${d.hash} differs from the generated ${want.hash}")
      }
      delete(new java.io.File(dir))
      InMemorySink.clear(sink)
      var scanDf: DataFrame = null
      var scanned: Array[Row] = null
      var ingestDf: DataFrame = null
      val ops = Seq(
        phase(ctx, p, 1, "sources.generate_write", rows) {
          TableIO.write(Generators.big50(spark, rows, ctx.seed), gen,
            maxRecordsPerFile = math.max(1L, rows / filesPerPass))
          Map.empty
        } {
          val files = new java.io.File(gen).listFiles().filter(_.getName.endsWith(".parquet"))
          Map("files" -> files.length, "bytes" -> files.map(_.length).sum)
        },
        phase(ctx, p, 2, "sources.scan", rows) {
          scanDf = TableIO.read(spark, gen)
          scanned = scanDf.collect()
          Map.empty
        } {
          if (scanned.length != rows) sys.error(s"scan read ${scanned.length} of $rows rows")
          sameContent("scan", scanDf)
          Map("partitions" -> scanDf.rdd.getNumPartitions)
        },
        phase(ctx, p, 3, "sources.ingest", rows) {
          ingestDf = TableIO.read(spark, gen)
          val m = Ingest.bulkUpsert(ingestDf, sink, Seq("i_0"))
          Map("upserted" -> m.rows, "batches" -> m.batches, "batch_ms_p50" -> m.dist.msMedian,
            "write_ms" -> m.writeMs)
        } {
          val stored = InMemorySink(sink).count()
          if (stored != rows) sys.error(s"ingest stored $stored of $rows rows")
          Map("writers" -> math.min(ingestDf.rdd.getNumPartitions, ctx.cores))
        },
        phase(ctx, p, 4, "streaming.stream", rows) {
          val src = spark.readStream.schema(scanDf.schema).option("maxFilesPerTrigger", 1).parquet(gen)
          val enc = DocumentSourceV2.encodeDescriptor(JsonlDirDescriptor(store))
          val q = DocumentUpsertStream.start(src, enc, s"$dir/checkpoint", key = "i_0")
          try q.processAllAvailable() finally q.stop()
          q.exception.foreach(e => throw e)
          val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
          def dur(k: String) = progress.map(x => Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L))
          Map("batches" -> progress.size, "batch_ms" -> dur("triggerExecution"),
            "add_batch_ms" -> dur("addBatch").sum, "get_batch_ms" -> dur("getBatch").sum)
        } {
          val total = new JsonlDocumentStore(store).total()
          if (total != rows) sys.error(s"stream stored $total of $rows rows")
          Map.empty
        },
        phase(ctx, p, 5, "sources.export", rows) {
          val exports = Seq(
            "memory" -> (() => DocumentSource.inMemory(sink)),
            "jsonl" -> (() => new JsonlDocumentStore(store)))
          val timings = exports.map { case (name, source) =>
            val (f, fetchS) = timed(ctx.tracer.span("sources.export_fetch", 5, p)(
              DocumentSource.toDFResilient(spark, source())))
            val writeS = timed(ctx.tracer.span("sources.export_write", 5, p)(
              TableIO.write(f.df, s"$dir/export_$name")))._2
            (fetchS, writeS, f.degraded.size)
          }
          Map("fetch_s" -> timings.map(_._1).sum, "write_s" -> timings.map(_._2).sum,
            "degraded" -> timings.map(_._3).sum)
        } {
          Seq("memory", "jsonl").foreach { name =>
            sameContent(s"export from the $name store", TableIO.read(spark, s"$dir/export_$name"))
          }
          Map.empty
        })
      InMemorySink.clear(sink)
      delete(new java.io.File(dir))
      ops
    }
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}
