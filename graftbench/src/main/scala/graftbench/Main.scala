package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** One client operation as the closed loop saw it. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
    traced: Boolean)

/** What a timed round reports back: its operations, the failures with
  * their reasons, and (ingest) the answers of its point reads. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  val answers = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  var traced = false
  var storeBytes = 0L

  def op[T](kind: String, name: String)(f: => T)(check: T => Option[String])
      : Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case t: Throwable => Left(t) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = res.fold(t => Some(s"${t.getClass.getName}: ${t.getMessage}"),
      check)
    err.foreach(e => failures += s"$kind $name: " +
      e.linesIterator.take(1).mkString)
    ops += Op(kind, name, ms, err.isEmpty, traced)
    res.toOption
  }
}

/** A workload's client: one untimed, verified warm-up round that fixes
  * every reference result, then identical timed rounds. */
trait Client {
  def warmup(rec: Recorder): Unit
  def round(i: Int, rec: Recorder): Unit
}

/** Per-request state release, as the engine's own bench does it: drop
  * cached data, unpersist every RDD (blocking, so cleanup is never billed
  * to the next request), drop streaming memory-sink views, and empty the
  * engine's per-query scratch directories. */
final class Hygiene(spark: SparkSession, tmp: File) {
  def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_out_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft-scratch"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
      .foreach(Main.delete)
  }
}

/** pipelines_small and curate_bulk: registered queries run through to
  * a collected result, in the plan's seeded order. */
final class QueryClient(spark: SparkSession, data: String,
    order: Seq[Seq[String]], verify: File, tracer: () => Option[Tracer],
    hygiene: Hygiene) extends Client {
  private val fns = graft.SparkEntry.queries
  private val refs = mutable.Map.empty[String, String]

  private def run(q: String): (DataFrame, Array[Row]) = {
    val tr = tracer()
    def span[T](n: String)(f: => T) = tr.fold(f)(_.span(n)(f))
    tr.foreach(_.phase("build"))
    span("request") {
      val df = span("build")(fns(q)(spark, data))
      tr.foreach(_.phase("final"))
      (df, span("final_action")(df.collect()))
    }
  }

  def warmup(rec: Recorder): Unit = order.head.distinct.foreach { q =>
    rec.op("warmup", q)(run(q)) { case (df, rows) =>
      refs(q) = Canon.fingerprint(rows.toSeq)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.parquet(new File(verify, q).getPath)
      None
    }
    hygiene.release()
  }

  def round(i: Int, rec: Recorder): Unit = order(i % order.size).foreach { q =>
    rec.op("request", q)(run(q)) { case (_, rows) =>
      val fp = Canon.fingerprint(rows.toSeq)
      if (refs.get(q).contains(fp)) None
      else Some(s"result $fp differs from the verified ${refs.get(q)}")
    }
    hygiene.release()
  }
}

/** ingest_serve: each step stages one split file, runs the incremental
  * registries to commit (near-dup signatures and pairs, source stats,
  * token counts) on checkpoints reused across the round's steps, then
  * issues the step's point reads against the committed tables. Every
  * round starts from fresh store and checkpoint directories and
  * deletes them at its end. */
final class IngestClient(spark: SparkSession, files: Seq[String],
    lookups: Seq[Map[String, Any]], perBatch: Int, work: File,
    verify: File, tracer: () => Option[Tracer], hygiene: Hygiene)
    extends Client {
  import graft.sources.{PrunedCommit, ResultStore}
  import graft.streaming.Registries

  private val refs = mutable.Map.empty[String, String]
  private val baseMtime = 1_600_000_000_000L

  private def pruned(tr: Option[Tracer])(schema: String, c: PrunedCommit) =
    tr.foreach { t =>
      t.count("sources.commits")
      t.count("sources.files_rewritten", c.rewrittenFiles)
      t.count("sources.files_carried", c.carriedFiles)
    }

  private def segment(tr: Option[Tracer])(schema: String,
      c: Registries.RegistryCommit) = tr.foreach { t =>
    t.count("sources.commits")
    c match {
      case Registries.SegmentAppended(r) =>
        t.count("sources.files_rewritten", r.newFiles)
        t.count("sources.files_carried", r.carriedFiles)
      case Registries.Compacted(_) => () // reports no file counts
    }
  }

  private def prunedRead(tr: Option[Tracer])(opened: Int, total: Int) =
    tr.foreach { t =>
      t.count("sources.pruned_files_opened", opened)
      t.count("sources.pruned_files_total", total)
    }

  /** The registered readouts of st15, st16 and st19 over the store. */
  private def readouts(store: ResultStore): Seq[(String, DataFrame)] = Seq(
    "st15_incremental_neardup" ->
      store.read("pairs").orderBy("id_a", "id_b"),
    "st16_incremental_stats" -> store.read("stats").orderBy("key"),
    "st19_token_registry" -> Registries.readTokenCounts(store, "tok")
      .orderBy(col("n").desc, col("key")).limit(25)
      .select(col("key").as("token"), col("n")))

  private def lookup(store: ResultStore, l: Map[String, Any],
      tr: Option[Tracer]): String = l("kind") match {
    case "stats" =>
      val r = store.get("stats", "key" -> l("key"))
      Seq("n_docs", "n_tokens", "n_chars").map(c => r.getAs[Long](c))
        .mkString(",")
    case "pairs" =>
      import spark.implicits._
      val keys = Seq(l("key").asInstanceOf[Number].longValue).toDF("id_a")
      store.readForKeys("pairs", keys, "id_a", prunedRead(tr))
        .select("id_b").collect().map(_.getLong(0)).sorted.mkString(",")
    case "token" =>
      store.filterRecords("tok", "key" -> l("key"))
        .collect().map(_.getAs[Long]("n")).sum.toString
  }

  /** One pass over the split files; the warm-up takes the first two
    * (the first commit creates each table, the second merges into it). */
  private def runRound(i: Int, rec: Recorder, warm: Boolean): Unit = {
    val root = new File(work, s"round-$i")
    Main.delete(root)
    val in = new File(root, "in"); in.mkdirs()
    val store = new ResultStore(spark, new File(root, "store").getPath)
    val ckpt = new File(root, "ckpt").getPath
    val tr = tracer()
    def span[T](n: String)(f: => T) = tr.fold(f)(_.span(n)(f))
    val registries: Seq[DataFrame => org.apache.spark.sql.streaming.StreamingQuery] = Seq(
      s => graft.operators.Dedup.incrementalNearDup(s, "doc_id", "text",
        store, "sigs", "pairs", s"$ckpt/neardup",
        onCommit = pruned(tr), onPrunedRead = prunedRead(tr)),
      s => Registries.incrementalSourceStats(s, "source", "text", store,
        "stats", "stats", s"$ckpt/stats", onCommit = pruned(tr)),
      s => Registries.incrementalTokenCounts(s, "text", store, "tok", "tok",
        s"$ckpt/tok", onCommit = segment(tr)))
    files.take(if (warm) 2 else files.size).zipWithIndex.foreach { case (f, step) =>
      tr.foreach(_.phase("stream"))
      rec.op(if (warm) "warmup" else "batch", s"batch-$step") {
        span("batch") {
          span("stage_file") {
            val dst = new File(in, f"part-$step%03d.parquet").toPath
            Files.copy(new File(f).toPath, dst, StandardCopyOption.REPLACE_EXISTING)
            Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(baseMtime + step * 1000L))
          }
          registries.foreach { start =>
            val q = span("registry_start")(start(
              graft.streaming.StreamRunner.parquetStream(spark, in.getPath, 1)))
            span("registry_await")(q.awaitTermination())
          }
        }
      }(_ => None)
      for (k <- 0 until perBatch) {
        val l = lookups(step * perBatch + k)
        tr.foreach(_.phase("lookup"))
        val ans = rec.op(if (warm) "warmup" else "lookup",
          s"${l("kind")}-$step-$k")(span("lookup")(lookup(store, l, tr)))(_ => None)
        rec.answers += Map[String, Any]("round" -> i, "step" -> step, "k" -> k,
          "kind" -> l("kind"), "key" -> l("key"),
          "answer" -> ans.orNull).asJava
      }
      hygiene.release()
    }
    // the first whole round's final registries are the reference the
    // oracle checks; every later round must reproduce them exactly
    if (!warm) {
      tr.foreach(_.snapshot("sources.data_files",
        Seq("sigs", "pairs", "stats", "tok").map(store.dataFileCount).sum))
      rec.storeBytes = Main.liveBytes(new File(root, "store"))
      readouts(store).foreach { case (q, df) =>
        rec.op("readout", q)(df.collect()) { rows =>
          val fp = Canon.fingerprint(rows.toSeq)
          refs.get(q) match {
            case None =>
              refs(q) = fp
              spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                .write.parquet(new File(verify, q).getPath)
              None
            case Some(`fp`) => None
            case Some(ref) => Some(s"registry $fp differs from the verified $ref")
          }
        }
      }
    }
    Main.delete(root)
  }

  def warmup(rec: Recorder): Unit = runRound(0, rec, warm = true)
  def round(i: Int, rec: Recorder): Unit = runRound(i, rec, warm = false)
}

/** The harness entry point. Reads the plan the seeded generator wrote,
  * runs the warm-up and the timed closed loop of one workload, and
  * writes everything it measured as one JSON document.
  *
  * {{{
  * graftbench.Main --plan <plan.json> --out <dir> --seconds <s> --trace <0|1>
  * }}}
  */
object Main {
  def delete(f: File): Unit = if (f.exists()) {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  /** Bytes of the committed generation of every schema under a store
    * root: the data files the `_CURRENT` pointer makes live. */
  def liveBytes(store: File): Long =
    Option(store.listFiles()).getOrElse(Array.empty[File]).toSeq.map { s =>
      val ptr = new File(s, "_CURRENT")
      if (!ptr.exists()) 0L
      else {
        val v = new File(s, new String(Files.readAllBytes(ptr.toPath)).trim)
        Option(v.listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      }
    }.sum

  /** Heap the last full collection left live: the heap pools' usage as
    * of that collection, so nothing allocated after it counts. */
  private def heapMb(): Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val json = new ObjectMapper()
    val plan = json.readValue(new File(opt("plan")), classOf[java.util.Map[String, Any]])
      .asScala
    val out = new File(opt("out")); out.mkdirs()
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val verify = new File(out, "verify"); verify.mkdirs()
    val work = new File(out, "work"); work.mkdirs()

    val spark = graft.Sessions.local(opt.getOrElse("cpus", "4"), "graftbench")
    val sessionReadyMs = System.currentTimeMillis()
    var tracer: Option[Tracer] = None
    val hygiene = new Hygiene(spark, new File(System.getProperty("java.io.tmpdir")))
    val client: Client = plan("workload") match {
      case "ingest_serve" => new IngestClient(spark,
        plan("files").asInstanceOf[java.util.List[java.util.Map[String, Any]]]
          .asScala.toSeq.map(_.get("path").toString),
        plan("lookups").asInstanceOf[java.util.List[java.util.Map[String, Any]]]
          .asScala.toSeq.map(_.asScala.toMap),
        plan("lookups_per_batch").asInstanceOf[Number].intValue,
        work, verify, () => tracer, hygiene)
      case _ => new QueryClient(spark, plan("data").toString,
        plan("order").asInstanceOf[java.util.List[java.util.List[String]]]
          .asScala.toSeq.map(_.asScala.toSeq),
        verify, () => tracer, hygiene)
    }

    val warm = new Recorder
    client.warmup(warm)
    val firstTimedMs = System.currentTimeMillis()

    // the timed closed loop: a fixed number of whole rounds, --seconds
    // over the round time the plan states (measured on the reference
    // host), so every run of a workload measures the same requests
    // however fast the engine gets. A traced run traces only its middle
    // third; the untraced thirds around it give the tracing overhead,
    // with drift across the run cancelled.
    val roundS = plan("round_s").asInstanceOf[Number].doubleValue
    def rounds(budgetS: Double) = math.max(1, math.round(budgetS / roundS).toInt)
    val rec = new Recorder
    var round = 1
    def loop(n: Int): Unit =
      for (_ <- 0 until n) { client.round(round, rec); round += 1 }
    loop(rounds(if (trace) seconds / 3 else seconds))
    val heap = heapMb()
    val traced = if (!trace) None else {
      Thread.sleep(500) // let the untraced third's bus events drain
      val tr = new Tracer(spark)
      tracer = Some(tr)
      tr.recording = true
      rec.traced = true
      loop(rounds(seconds / 3))
      tr.finish()
      tracer = None
      rec.traced = false
      loop(rounds(seconds / 3))
      Some(tr)
    }

    val result = new java.util.LinkedHashMap[String, Any]()
    def ops(r: Recorder) = r.ops.map(o => Map[String, Any]("kind" -> o.kind,
      "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced)
      .asJava).asJava
    result.put("session_ready_ms", sessionReadyMs)
    result.put("first_timed_ms", firstTimedMs)
    result.put("rounds", round - 1)
    result.put("heap_mb", heap)
    result.put("store_bytes", rec.storeBytes)
    result.put("warmup_ops", ops(warm))
    result.put("ops", ops(rec))
    result.put("failures", (warm.failures ++ rec.failures).asJava)
    result.put("answers", (warm.answers ++ rec.answers).asJava)
    val queries = plan("queries").asInstanceOf[java.util.List[String]].asScala.toSet
    result.put("oracle_sql", graft.SparkEntry.oracleSql
      .filter { case (q, _) => queries(q) }.asJava)
    traced.foreach { tr =>
      result.put("layers", tr.layerTotals.asJava)
      result.put("spans", tr.spanList.map(s => Map[String, Any]("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs).asJava).asJava)
    }
    json.writeValue(new File(out, "result.json"), result)
    spark.stop()
  }
}
