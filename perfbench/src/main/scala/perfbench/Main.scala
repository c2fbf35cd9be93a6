package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import graft.CubeCatalog

/** The benchmark's JVM side: boots the program the way it ships, drives one
  * workload with closed-loop clients and writes raw measurements as JSON.
  * run.py generates the requests, checks the outputs it cannot check here
  * and turns the measurements into metrics.
  *
  *   Main <plan.json>
  *
  * Serve workloads run `graft.api.ServerMain.main` itself on a daemon
  * thread (its session settings, its 8-thread pool) and talk to it over
  * keep-alive HTTP. The pipeline workload runs `SparkEntry.queries` on a
  * session built like `graft.Bench`'s. With `trace` set, a single client
  * replays each operation in-process through the layers' public functions
  * with spans and a job-attributing [[Recorder]]. */
object Main {
  def ms(ns: Long): Double = ns / 1e6

  final class Op(val req: Int, val latNs: Long, val ok: Boolean)

  final class Results {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = synchronized {
      if (failures.length < 50) failures += what
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val res = new Results
    try {
      if (plan.get("mode").asText == "pipeline") Pipeline.run(plan, res)
      else Serve.run(plan, res)
    } catch {
      case e: Throwable =>
        res.out("fatal") = e.toString
        e.printStackTrace()
    }
    res.out("failures") = res.failures.toSeq
    Files.write(Paths.get(plan.get("out").asText),
      JsonOut.write(res.out).getBytes(UTF_8))
    // ServerMain's thread blocks forever by design; Spark's shutdown hook
    // stops the context
    System.exit(0)
  }

  def reqs(n: JsonNode): IndexedSeq[Req] =
    if (n == null) IndexedSeq.empty
    else n.elements().asScala.map { r =>
      def s(k: String) = Option(r.get(k)).filter(!_.isNull).map(_.asText).getOrElse("")
      Req(s("id"), s("kind"), s("method"), s("target"), s("body"),
        s("content_type"), Option(r.get("auth")).exists(_.asBoolean), s("expect"))
    }.toIndexedSeq

  def ints(n: JsonNode): IndexedSeq[Int] =
    if (n == null) IndexedSeq.empty else n.elements().asScala.map(_.asInt).toIndexedSeq

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Spark block-manager storage, from Spark's own status: after a GC the
    * context cleaner releases unreferenced frames asynchronously, so GC and
    * re-read until three readings in a row agree. Returns (MB, frames
    * holding blocks). */
  def storage(spark: SparkSession): (Double, Int) = {
    def read(): (Long, Int) = {
      val infos = spark.sparkContext.getRDDStorageInfo
        .filter(_.numCachedPartitions > 0)
      (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
    }
    var cur = read()
    var same = 0
    val deadline = System.nanoTime() + 8000000000L
    while (same < 2 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      val next = read()
      same = if (next == cur) same + 1 else 0
      cur = next
    }
    (cur._1 / 1e6, cur._2)
  }

  def opsJson(ops: Seq[Op]): Map[String, Any] = Map(
    "lat_ms" -> ops.map(o => ms(o.latNs)), "ok" -> ops.map(_.ok),
    "req" -> ops.map(_.req))

  def spansJson(spans: Spans): Seq[Map[String, Any]] = spans.spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "parent" -> s.parent, "request" -> s.request))

  def counterJson(c: Counters): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "executor_cpu_ms" -> c.cpuNs / 1e6, "executor_run_ms" -> c.runMs,
    "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
    "spill_bytes" -> c.spill, "checkpoint_jobs" -> c.checkpointJobs,
    "broadcast_jobs" -> c.broadcastJobs)
}

/** REST workloads against the server exactly as ServerMain ships it. */
object Serve {
  import Main._

  def run(plan: JsonNode, res: Results): Unit = {
    val dataDir = plan.get("data_dir").asText
    val port = plan.get("port").asInt
    val secret = plan.get("secret").asText
    val trace = plan.get("trace").asBoolean
    val warmup = reqs(plan.get("warmup"))
    val requests = reqs(plan.get("requests"))

    val server = new Thread(() =>
      graft.api.ServerMain.main(Array(dataDir, port.toString)), "servermain")
    server.setDaemon(true)
    server.start()
    var spark: SparkSession = null
    while (spark == null) {
      spark = SparkSession.getDefaultSession.orNull
      if (spark == null) Thread.sleep(1)
    }
    val tSession = System.currentTimeMillis()
    val probe = new KeepAliveClient(port, secret)
    val root = Req("root", "root", "GET", "/", "", "", auth = false, "")
    var up = false
    while (!up) {
      up = try probe.send(root).status == 200 catch {
        case _: java.io.IOException => probe.close(); Thread.sleep(5); false
      }
      if (!up && !server.isAlive) sys.error("ServerMain exited during start-up")
    }
    val tCatalog = System.currentTimeMillis()
    val recorder = if (trace) {
      val r = new Recorder(spark.sparkContext)
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None

    // warmup: one pass with the workload's clients; each response is
    // checked against its expected digest (when the workload has one) and
    // kept as the reference bytes for the timed window
    val reference = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    var warmFailed = 0
    val clients = if (trace) 1 else plan.get("clients").asInt
    onePass(port, secret, warmup, clients).zip(warmup).foreach { case (resp, r) =>
      val good = resp.status / 100 == 2 && (r.expect.isEmpty || sha256(resp.body) == r.expect)
      if (!good) {
        warmFailed += 1
        res.fail(s"warmup ${r.id}: status ${resp.status} " +
          (if (resp.status / 100 == 2) "digest mismatch"
           else new String(resp.body.take(300), UTF_8)))
      } else if (r.kind != "flush") reference.put(r.id, resp.body)
    }
    val tReady = System.currentTimeMillis()
    res.out("setup") = Map("session_ready_ms" -> tSession, "catalog_ready_ms" -> tCatalog,
      "ready_ms" -> tReady, "warmup_failed" -> warmFailed)

    if (trace) traced(plan, res, spark, dataDir, requests, recorder.get, probe)
    else timed(plan, res, spark, port, secret, requests, reference)
    probe.close()
  }

  /** Every request once, `clients` keep-alive connections taking the next
    * request from a shared queue; responses in request order. */
  def onePass(port: Int, secret: String, rs: IndexedSeq[Req],
      clients: Int): IndexedSeq[Resp] = {
    val out = new Array[Resp](rs.length)
    val next = new AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val cl = new KeepAliveClient(port, secret)
        var i = next.getAndIncrement()
        while (i < rs.length) {
          out(i) = try cl.send(rs(i)) catch {
            case e: java.io.IOException => cl.close(); Resp(-1, e.toString.getBytes(UTF_8))
          }
          i = next.getAndIncrement()
        }
        cl.close()
      }, s"pass-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toIndexedSeq
  }

  /** Closed-loop clients over keep-alive connections for `seconds`. */
  private def timed(plan: JsonNode, res: Results, spark: SparkSession, port: Int,
      secret: String, requests: IndexedSeq[Req],
      reference: java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]): Unit = {
    val clients = plan.get("clients").asInt
    val seconds = plan.get("seconds").asDouble
    val orders = plan.get("client_orders").elements().asScala.map(ints).toIndexedSeq
    val flush = reqs(plan.get("flush")).headOption
    val shared = plan.get("shared_queue").asBoolean
    val keepBodies = plan.get("keep_bodies").asBoolean
    val bodies = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
    val issued = new AtomicLong(0)
    // the first answer to each request is checked against its expected
    // digest and then kept: later answers must equal it byte for byte
    def checked(r: Req, body: Array[Byte]): Boolean =
      Option(reference.get(r.id)) match {
        case Some(ref) => java.util.Arrays.equals(ref, body)
        case None =>
          val good = r.expect.isEmpty || sha256(body) == r.expect
          if (good && !keepBodies) reference.putIfAbsent(r.id, body)
          good
      }

    // the closed loop: clients run until `upTo` requests were issued (each
    // run does the same work) or, as a safety net, until the deadline
    def phase(deadlineNs: Long, upTo: Long): Seq[Op] = {
      val perClient = (0 until clients).map(_ => mutable.ArrayBuffer.empty[Op])
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          val cl = new KeepAliveClient(port, secret)
          var k = 0
          var stop = false
          while (!stop && System.nanoTime() < deadlineNs) {
            val n = issued.getAndIncrement()
            if (n >= upTo) stop = true
            else {
              val idx = if (shared) n.toInt else orders(c)(k % orders(c).length)
              val r = requests(idx)
              val t = System.nanoTime()
              val resp = try cl.send(r) catch {
                case e: java.io.IOException => cl.close(); Resp(-1, e.toString.getBytes(UTF_8))
              }
              val lat = System.nanoTime() - t
              val ok = resp.status / 100 == 2 && checked(r, resp.body)
              if (!ok) res.fail(s"${r.id}: status ${resp.status} " +
                (if (resp.status / 100 == 2) "output differs from the expected digest"
                 else new String(resp.body.take(300), UTF_8)))
              k += 1
              if (keepBodies) bodies.put(idx, resp.body)
              perClient(c) += new Op(idx, lat, ok)
            }
          }
          cl.close()
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      perClient.flatten
    }

    val start = System.nanoTime()
    val total = if (shared) requests.length else plan.get("total_requests").asInt
    val ops = phase(start + (seconds * 1e9).toLong, total)
    val phaseNs = System.nanoTime() - start
    // storage is read at the end of the work, before dash_hot's closing
    // /flush releases the catalog's frames; its GC waits are not timed
    val (mb, frames) = storage(spark)
    res.out("storage_mb") = mb
    res.out("cached_frames") = frames
    // dash_hot ends each run with the ETL-then-flush step: one timed /flush
    // (catalog drop and rebuild) after the dashboard traffic
    val closing = flush.map { f =>
      val cl = new KeepAliveClient(port, secret)
      val t = System.nanoTime()
      val resp = try cl.send(f) catch {
        case e: java.io.IOException => Resp(-1, e.toString.getBytes(UTF_8))
      }
      val lat = System.nanoTime() - t
      cl.close()
      if (resp.status / 100 != 2) res.fail(s"flush: status ${resp.status}")
      res.out("flush_ms") = ms(lat)
      new Op(-1, lat, resp.status / 100 == 2)
    }
    res.out("elapsed_s") = (phaseNs + closing.map(_.latNs).getOrElse(0L)) / 1e9
    res.out("ops") = opsJson(ops ++ closing)
    if (keepBodies)
      res.out("bodies") = bodies.asScala.toSeq.sortBy(_._1).map { case (i, b) =>
        Map("req" -> i, "body" -> java.util.Base64.getEncoder.encodeToString(b)) }
  }

  /** One client; each operation is replayed in-process with spans (cold),
    * sent over HTTP, then replayed again without and with spans (warm). */
  private def traced(plan: JsonNode, res: Results, spark: SparkSession,
      dataDir: String, requests: IndexedSeq[Req], rec: Recorder,
      http: KeepAliveClient): Unit = {
    val spans = new Spans
    val handler = new Handler(spans)
    val order = ints(plan.get("trace_order"))
    val flush = reqs(plan.get("flush")).headOption
    val total = new Counters
    var hitJobs = 0L
    var planJobs = 0L
    var rows = 0L
    var lookups, hits = 0L
    val apiSelf, overhead = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Long]
    val flushMs = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.HashSet.empty[String]
    order.zipWithIndex.foreach { case (idx, i) =>
      if (idx < 0) {
        val t = System.nanoTime()
        val resp = http.send(flush.get)
        flushMs += ms(System.nanoTime() - t)
        if (resp.status / 100 != 2) res.fail(s"flush: status ${resp.status}")
      } else {
        val r = requests(idx)
        val tag = s"$i:${r.id}"
        traced += tag
        spans.request = tag
        val cat = CubeCatalog.forDir(spark, dataDir)
        val (lookups0, hits0) = (handler.lookups, handler.hits)
        handler.planJobs = () => rec.counters(i).jobs
        val (body, c) = try rec.attributed(i)(spans("op")(handler.handle(cat, r)))
          catch { case e: Throwable => res.fail(s"${r.id}: in-process replay threw $e")
            (Array.emptyByteArray, new Counters) }
        total.add(c)
        planJobs += handler.takePlanJobs()
        rows += handler.takeRows()
        lookups += handler.lookups - lookups0
        hits += handler.hits - hits0
        if (handler.hits > hits0) hitJobs += c.jobs
        val t = System.nanoTime()
        val resp = http.send(r)
        val tHttp = System.nanoTime() - t
        val ok = resp.status / 100 == 2 && java.util.Arrays.equals(body, resp.body) &&
          (r.expect.isEmpty || sha256(resp.body) == r.expect)
        if (!ok) res.fail(s"${r.id}: status ${resp.status}, traced replay " +
          (if (java.util.Arrays.equals(body, resp.body)) "matches" else "differs"))
        bytes += resp.body.length
        spans.enabled = false
        val td = System.nanoTime()
        handler.handle(cat, r)
        val tDirect = System.nanoTime() - td
        spans.enabled = true
        spans.request = "warm:" + tag
        val tw = System.nanoTime()
        handler.handle(cat, r)
        val tWarm = System.nanoTime() - tw
        handler.takePlanJobs(); handler.takeRows()
        apiSelf += ms(tHttp - tDirect)
        overhead += ms(tWarm - tDirect)
      }
    }
    val n = math.max(apiSelf.length, 1)
    val self = spans.selfNs(traced.toSet)
    def perOp(names: String*): Double =
      names.map(nm => spans.totalNs(nm, traced.toSet)).sum / 1e6 / n
    val (mb, frames) = storage(spark)
    val setup = res.out("setup").asInstanceOf[Map[String, Any]]
    res.out("layers") = Map(
      "ops" -> apiSelf.length,
      "api.self_ms" -> apiSelf.sum / n,
      "api.response_bytes" -> bytes.sum.toDouble / n,
      "planner.parse_ms" -> perOp("planner.parse"),
      "planner.plan_ms" -> perOp("planner.plan"),
      "planner.plan_jobs" -> planJobs,
      "catalog.result_hit_ratio" -> (if (lookups == 0) 0.0 else hits.toDouble / lookups),
      "catalog.lookups" -> lookups,
      "catalog.flush_ms" -> (if (flushMs.isEmpty) 0.0 else flushMs.sum / flushMs.length),
      "catalog.cached_frames" -> frames,
      "catalog.storage_mb" -> mb,
      "exec.collect_ms" -> perOp("exec.collect", "exec.members"),
      "exec.result_rows" -> rows,
      "exec.hit_jobs" -> hitJobs,
      "result.format_ms" -> perOp("result.format"),
      "self_ms_per_op" -> self.map { case (k, v) => k -> v / 1e6 / n },
      "trace.overhead_ms" -> overhead.sum / n,
      "counters" -> counterJson(total),
      "setup" -> setup)
    res.out("spans") = spansJson(spans)
    res.out("ops") = opsJson(Nil)
  }
}

/** The batch workload: `SparkEntry.queries` on a session built the way
  * `graft.Bench` builds its own (extensions registered), every result
  * collected in full and digested. */
object Pipeline {
  import Main._

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Canonical digest of a collected result: column names, then every row
    * in result order (instants as epoch values, so the host time zone
    * cannot change it). */
  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def canon(v: Any): String = v match {
      case null => "\\N"
      case t: java.sql.Timestamp => s"ts:${t.getTime}:${t.getNanos}"
      case t: java.time.Instant => s"ts:${t.toEpochMilli}:${t.getNano}"
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    md.update(cols.mkString("\u0001").getBytes(UTF_8))
    rows.foreach { r =>
      md.update('\n'.toByte)
      md.update(r.toSeq.map(canon).mkString("\u0001").getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def run(plan: JsonNode, res: Results): Unit = {
    val dataDir = plan.get("data_dir").asText
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session graft.Bench builds (its builder is not a reusable function)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    val tSession = System.currentTimeMillis()
    CubeCatalog.forDir(spark, dataDir)
    val tCatalog = System.currentTimeMillis()

    val names = plan.get("queries").elements().asScala.map(_.asText).toIndexedSeq
    val expect = names.map(n => Option(plan.get("expect").get(n)).map(_.asText).getOrElse(""))
    // a query name the program does not have is looked up like any other
    // and fails as an operation; "__throws__" runs a real query against a
    // directory that does not exist (the self-test's throwing query)
    def query(n: String): Query =
      if (n == "__throws__") (s, _) => graft.SparkEntry.queries("q04_cut_member")(s, dataDir + "/missing")
      else graft.SparkEntry.queries(n)
    val record = Option(plan.get("record")).map(_.asText).filter(_.nonEmpty)

    var warmFailed = 0
    ints(plan.get("warmup")).foreach { i =>
      try query(names(i))(spark, dataDir).collect()
      catch { case e: Throwable => warmFailed += 1; res.fail(s"warmup ${names(i)}: $e") }
    }
    val tReady = System.currentTimeMillis()
    res.out("setup") = Map("session_ready_ms" -> tSession, "catalog_ready_ms" -> tCatalog,
      "ready_ms" -> tReady, "warmup_failed" -> warmFailed)

    val rec = if (plan.get("trace").asBoolean) {
      val r = new Recorder(spark.sparkContext)
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None
    val spans = new Spans
    spans.enabled = rec.isDefined
    val passes = plan.get("passes").elements().asScala.map(ints).toIndexedSeq
    val ops = mutable.ArrayBuffer.empty[Op]
    val total = new Counters
    val digests = mutable.LinkedHashMap.empty[String, String]
    var resultRows = 0L
    val perOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    // a fixed number of whole passes, so every run does the same work
    passes.zipWithIndex.foreach { case (pass, p) =>
      pass.foreach { i =>
        val n = names(i)
        spans.request = s"$p:$n"
        val t = System.nanoTime()
        val attempt = scala.util.Try {
          def body() = {
            val df = spans("ops.build")(query(n)(spark, dataDir))
            val rows = spans("ops.exec")(df.collect())
            (df, rows)
          }
          rec match {
            case Some(r) =>
              val (out, c) = r.attributed(ops.length)(body())
              total.add(c)
              perOp += Map("query" -> n, "call_sites" -> c.callSites.toSeq) ++ counterJson(c)
              out
            case None => body()
          }
        }
        val lat = System.nanoTime() - t
        val ok = attempt match {
          case scala.util.Success((df, rows)) =>
            val d = digest(df.columns.toSeq, rows)
            resultRows += rows.length
            digests(n) = d
            record.foreach { dir =>
              spark.createDataFrame(rows.toSeq.asJava, df.schema)
                .coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
            }
            if (expect(i).nonEmpty && d != expect(i)) {
              res.fail(s"$n: result digest $d, expected ${expect(i)}"); false
            } else if (expect(i).isEmpty && record.isEmpty) {
              res.fail(s"$n: no expected digest"); false
            } else true
          case scala.util.Failure(e) => res.fail(s"$n: threw $e"); false
        }
        ops += new Op(i, lat, ok)
      }
    }
    res.out("elapsed_s") = (System.nanoTime() - start) / 1e9
    res.out("ops") = opsJson(ops.toSeq)
    res.out("digests") = digests.toMap
    if (record.nonEmpty)
      res.out("oracle_sql") = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val (mb, frames) = storage(spark)
    res.out("storage_mb") = mb
    res.out("cached_frames") = frames
    rec.foreach { _ =>
      val all = spans.spans.map(_.request).toSet
      res.out("layers") = Map(
        "ops" -> ops.length,
        "ops.build_ms" -> spans.totalNs("ops.build", all) / 1e6 / math.max(ops.length, 1),
        "ops.exec_ms" -> spans.totalNs("ops.exec", all) / 1e6 / math.max(ops.length, 1),
        "catalog.cached_frames" -> frames,
        "catalog.storage_mb" -> mb,
        "exec.result_rows" -> resultRows,
        "counters" -> counterJson(total),
        "setup" -> res.out("setup"))
      res.out("spans") = spansJson(spans)
      res.out("op_counters") = perOp.toSeq
    }
  }
}

/** Minimal JSON writer for the harness's own output. */
object JsonOut {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def w(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); w(y) }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); w(y) }
        sb.append(']')
      case other => str(other.toString)
    }
    w(v)
    sb.toString
  }
}
