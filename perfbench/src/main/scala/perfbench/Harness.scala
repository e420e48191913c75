package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run of one workload in this JVM, measured from outside:
  * it calls graft's public entry points and times them, and counts
  * Spark's work with its own listener ([[Tracer]]) on traced passes only.
  *
  * Sequence: session start → check pass (every step once, outputs kept
  * for the correctness check; it also pays the memoized builds, the JIT
  * and whole-stage codegen) → `--warm` untimed passes → `--passes` timed
  * passes in a closed loop. Everything before the first timed pass is
  * set-up. Between steps the same untimed cleanup as graft.Bench runs.
  * The raw per-pass records go to `<out>/result.json`; spans and the
  * per-query ledger of traced passes to `<out>/trace.json`.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seed N --passes N
  *        --trace 0|1 [--warm N] [--cores N] */
object Harness {

  final class Phases(spark: SparkSession, val span: String) {
    val times = mutable.LinkedHashMap[String, Double]()
    val spans = mutable.ArrayBuffer[(String, Long, Long)]()
    def apply[T](phase: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanKey, s"$span/$phase")
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        times(phase) = times.getOrElse(phase, 0.0) + (System.nanoTime() - t0) / 1e9
        spans += ((phase, w0, System.currentTimeMillis()))
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
    }
  }

  /** One unit of closed-loop work: a declared query or an ingest call. */
  final case class Step(name: String, run: Phases => Unit)

  /** A DataFrame's timed phases: construct it, plan it, execute it into
    * the noop sink (the sink graft.Bench uses). */
  def phased(ph: Phases)(construct: => DataFrame): Unit = {
    val df = ph("construct")(construct)
    ph("plan")(df.queryExecution.executedPlan)
    ph("execute")(df.write.format("noop").mode("overwrite").save())
  }

  /** Runs `body` once outside the timed passes, logging its time; returns
    * the failure, if any. */
  def untimed(name: String)(body: => Unit): Option[String] = {
    val t0 = System.nanoTime()
    val failure =
      try { body; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    System.err.println(f"[perfbench] check $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    failure
  }

  trait Workload {
    /** The steps of pass `pass`, in the order they run. */
    def steps(pass: Int): Seq[Step]
    /** Run every step once, outside the timed passes, keeping what the
      * correctness check needs; returns (attempted, failure messages). */
    def check(): (Int, Seq[String])
    /** Bytes and files the pass wrote (ingest only), then clean up. */
    def afterPass(pass: Int): (Long, Long) = (0L, 0L)
  }

  private def seededOrder[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** curate / scale10: declared queries over one input directory. */
  final class Queries(spark: SparkSession, dir: String, names: Seq[String],
                      seed: Long, out: String) extends Workload {
    def steps(pass: Int): Seq[Step] =
      seededOrder(names, seed, pass).map(n =>
        Step(n, ph => phased(ph)(SparkEntry.queries(n)(spark, dir))))
    def check(): (Int, Seq[String]) = {
      val failures = mutable.ArrayBuffer[String]()
      val oracles = mutable.LinkedHashMap[String, String]()
      names.foreach { n =>
        failures ++= untimed(n)(SparkEntry.queries(n)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/check/$n"))
        Runner.cleanup(spark)
        SparkEntry.oracleSql.get(n) match {
          case Some(sql) => oracles(n) = sql
          case None => failures += s"$n: no oracle"
        }
      }
      Json.write(s"$out/check/oracle_sql.json", oracles.toMap)
      (names.size, failures.toSeq)
    }
  }

  /** ingest: the write path into a fresh directory per pass. */
  final class Ingest(spark: SparkSession, dir: String, out: String) extends Workload {
    import org.apache.spark.sql.functions._
    private def read(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    private def fact = read("lineitem")
      .withColumn("year", year(col("l_shipdate")))
      .withColumn("month", month(col("l_shipdate")))
    private def passDir(pass: Int) = s"$out/ingest/pass-$pass"
    private def verdicts(index: String) =
      graft.ops.LshIndex.ingestVerdicts(read("batch"), index, threshold = 0.35)
    private def lshBuild(docs: DataFrame, index: String): Unit =
      graft.ops.LshIndex.build(docs, index, numHashes = 8, rowsPerBand = 2,
        shingleSize = 2)

    def steps(pass: Int): Seq[Step] = {
      val p = passDir(pass)
      Seq(
        Step("io.write_partitioned", ph => ph("execute")(
          graft.io.Io.writePartitioned(fact, s"$p/fact", "year", "month"))),
        Step("io.write_parquet", ph => ph("execute")(
          graft.io.Io.writeParquet(read("documents_base"), s"$p/docs"))),
        Step("quality.check", ph => ph("execute")(
          graft.quality.DataQuality.checkAll(Seq(
            (spark.read.parquet(s"$p/fact"), "lineitem", "l_orderkey"),
            (spark.read.parquet(s"$p/docs"), "documents", "text"))))),
        Step("ops.lsh_build", ph => ph("execute")(
          lshBuild(spark.read.parquet(s"$p/docs"), s"$p/lsh"))),
        Step("ops.lsh_append", ph => ph("execute")(
          graft.ops.LshIndex.append(read("documents_shard"), s"$p/lsh", "s1"))),
        Step("ops.lsh_verdicts", ph => phased(ph)(verdicts(s"$p/lsh"))),
        Step("ops.ivfpq_build", ph => ph("execute")(
          graft.ops.Pq.buildIvfPqIndex(read("embeddings_base"), s"$p/ivfpq",
            m = 8, ks = 16, nlist = 8))),
        Step("ops.ivfpq_append", ph => ph("execute")(
          graft.ops.Pq.appendToIvfPqIndex(read("embeddings_shard"), s"$p/ivfpq",
            "s1"))))
    }

    /** Order-independent digest of a relation: row count plus two sums of
      * per-row hashes over every column (sorted by name). */
    private def digest(df: DataFrame): Seq[Any] = {
      val cols = df.columns.sorted.toSeq.map(col)
      df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(2147483647L))),
        sum(pmod(hash(cols: _*).cast("long"), lit(2147483647L)))).head().toSeq
    }

    /** The steps once (the warm-up), with the verdicts collected rather
      * than discarded, then the ingest checks. */
    def check(): (Int, Seq[String]) = {
      val failures = mutable.ArrayBuffer[String]()
      val p = passDir(-1)
      def verdictRows(index: String) =
        verdicts(index).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      var appended = Seq.empty[String]
      val steps = this.steps(-1).map {
        case s if s.name == "ops.lsh_verdicts" =>
          s.copy(run = _ => appended = verdictRows(s"$p/lsh"))
        case s => s
      }
      steps.foreach { s =>
        failures ++= untimed(s.name)(s.run(new Phases(spark, "check")))
        Runner.cleanup(spark)
      }
      def verify(what: String)(ok: => Boolean): Unit =
        try { if (!ok) failures += s"check: $what" }
        catch { case e: Throwable => failures += s"check: $what: ${e.getMessage}" }
      verify("partitioned read-back equals source")(
        digest(fact) == digest(spark.read.parquet(s"$p/fact")))
      verify("parquet read-back equals source")(
        digest(read("documents_base")) == digest(spark.read.parquet(s"$p/docs")))
      verify("verdicts after append equal verdicts of a rebuild over the union") {
        lshBuild(read("documents_base").unionByName(read("documents_shard")),
          s"$p/lsh_union")
        appended.nonEmpty && appended == verdictRows(s"$p/lsh_union")
      }
      verify("IVF-PQ index holds base and shard rows")(
        spark.read.parquet(s"$p/ivfpq/corpus").count() ==
          read("embeddings_base").count() + read("embeddings_shard").count())
      Runner.cleanup(spark)
      afterPass(-1)
      (steps.size + 4, failures.toSeq)
    }

    override def afterPass(pass: Int): (Long, Long) = {
      val d = new File(passDir(pass))
      val files = Runner.walk(d).filter(f => f.getName.endsWith(".parquet"))
      val bytes = files.map(_.length).sum
      Runner.delete(d)
      (bytes, files.size.toLong)
    }
  }

  /** The declared queries of each query workload. */
  val Lists: Map[String, Seq[String]] = Map(
    "curate" -> Seq("q60_segment_dedup", "q72_span_dedup", "q89_part_rank"),
    "scale10" -> Seq("q01_pricing_summary", "q07_top5_nations_monthly",
      "q08_top5_nations_ytd", "q09_orders_per_year", "q10_orders_by_region",
      "q16_dedup_exact", "q24_sessionize", "q58_vocabulary"))

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val dir = a("data"); val out = a("out")
    val seed = a("seed").toLong
    val traced = a.get("trace").contains("1")
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // graft.Bench's session, plus scratch locations kept inside `out`
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, dir, out)
      case name if Lists.contains(name) => new Queries(spark, dir, Lists(name), seed, out)
      case other => sys.error(s"unknown workload '$other'")
    }
    val runner = new Runner(spark, w, cores)
    val result = runner.run(a("passes").toInt, a.getOrElse("warm", "0").toInt,
      traced, jvmStartMs)
    Json.write(s"$out/result.json", result + ("workload" -> workload) +
      ("seed" -> seed) + ("cores" -> cores))
    if (traced) Json.write(s"$out/trace.json", Map(
      "spans" -> runner.spans.toSeq, "ledger" -> runner.ledger.toSeq))
    spark.stop()
  }
}
