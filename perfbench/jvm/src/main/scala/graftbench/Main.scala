package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: one workload, one JVM, one SparkSession at
 * local[cpus], one client in a closed loop (each operation starts after
 * the previous one has committed). Writes `raw.json` (every timed sample
 * and, in a traced run, every counter) and `spans.jsonl` into `--out`;
 * perfbench/run.py turns those into metrics and checks the outputs.
 *
 * With `--prepare 1` it only writes a stream workload's trigger slices
 * and exits, so that every measured JVM starts equally cold.
 *
 * Set-up runs `SetupReps` times. Then every run does the same fixed work,
 * so that runs of two commits compare like for like: pass 0 is the cold
 * pass and pass 1 the warm pass.
 * Between operations, outside every timer, cached data is dropped and a
 * full collection runs, so no operation pays for its predecessor's
 * garbage; the live heap after the collection is recorded.
 */
object Main {
  final case class Args(workload: String, data: String, out: String,
      trace: Boolean, cpus: Int, ops: Seq[String], triggers: Int, slices: String,
      prepare: Boolean)

  /** Set-up repetitions; set-up time is their median. */
  val SetupReps = 3
  val Passes = 2

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m.getOrElse("trace", "0") == "1",
      m("cpus").toInt, m.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq,
      m.getOrElse("triggers", "0").toInt, m.getOrElse("slices", ""),
      m.getOrElse("prepare", "0") == "1")
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's local-mode settings (see graft.Bench)
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.files.minPartitionNum", a.cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    FsTrace.mainThread = Thread.currentThread()
    val spark = session(a)
    if (a.prepare) { // input preparation only, in a JVM of its own
      new StreamWorkload(spark, a.data, a.out, a.slices, a.triggers).writeSlices()
      spark.stop()
      return
    }
    val sc = spark.sparkContext
    val recorder = if (a.trace) {
      val r = new Recorder; sc.addSparkListener(r); Some(r)
    } else None
    val sessionReadyS = Jvm.uptimeS

    val wl: Workload = a.workload match {
      case "corpus_stream" => new StreamWorkload(spark, a.data, a.out, a.slices, a.triggers)
      case _ => new CatalogWorkload(spark, a.data, a.out, a.ops)
    }
    val spans = ArrayBuffer.empty[Span]
    def span(name: String, t0: Double, t1: Double, parent: String, op: String): Unit =
      if (a.trace) spans += Span(name, t0, t1, parent, op)

    // drop what an operation cached, run a full collection and return
    // the live heap it leaves
    def reap(): Double = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // the first collection lets the context cleaner release what the
      // operation's broadcasts and shuffles held; the second measures
      System.gc()
      Thread.sleep(150)
      System.gc()
      val heap = Jvm.heapUsedMb
      if (a.trace) ListenerBusAccess.drain(sc)
      heap
    }

    val prep0 = Clock.ms
    wl.prepareInputs()
    reap()
    val prepareS = (Clock.ms - prep0) / 1000.0
    val setupS = (1 to SetupReps).map { r =>
      val t0 = Clock.ms
      wl.setup()
      val t1 = Clock.ms
      span("setup", t0, t1, "", s"setup$r")
      reap()
      (t1 - t0) / 1000.0
    }

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val fsKeys = Seq("read_ops", "list_ops", "write_ops", "files_created")
    def fsSnap: Map[String, Double] = {
      val (r, w) = FsTrace.bytes
      fsKeys.map(k => k -> FsTrace.count(k).toDouble).toMap ++
        Map("bytes_read" -> r.toDouble, "bytes_written" -> w.toDouble)
    }

    val (busy0, own0, win0) = (Jvm.hostBusyS, Jvm.ownCpuS, Clock.ms)
    (0 until Passes).foreach { pass =>
      wl.beginPass(pass)
      reap()
      val (gc0, jit0, p0) = (Jvm.gcS, Jvm.jitS, Clock.ms)
      var passTimed = 0.0
      wl.ops.indices.foreach { i =>
        val opId = s"p$pass/${wl.ops(i)}"
        if (a.trace) sc.setLocalProperty(Recorder.OpKey, opId)
        val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val part = new Part {
          def apply[A](name: String)(body: => A): A = {
            val t0 = Clock.ms
            try body finally {
              val t1 = Clock.ms
              parts(name) = (t1 - t0) / 1000.0
              span(name, t0, t1, opId, opId)
            }
          }
        }
        val fs0 = if (a.trace) fsSnap else Map.empty[String, Double]
        val t0 = Clock.ms
        val err = try { wl.run(i, pass, part); None } catch {
          case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(400))
        }
        val t1 = Clock.ms
        span("op", t0, t1, s"p$pass", opId)
        val fs1 = if (a.trace) fsSnap else Map.empty[String, Double]
        if (a.trace) sc.setLocalProperty(Recorder.OpKey, null)
        passTimed += (t1 - t0) / 1000.0
        val heap = reap()
        err.foreach(e => System.err.println(s"[perfbench] $opId failed: $e"))
        ops += Map("pass" -> pass, "name" -> wl.ops(i), "id" -> opId,
          "wall_s" -> (t1 - t0) / 1000.0, "parts" -> parts.toMap,
          "start_ms" -> t0, "end_ms" -> t1, "ok" -> err.isEmpty,
          "error" -> err, "heap_after_gc_mb" -> heap,
          "output" -> (if (err.isEmpty) wl.outputOf(i, pass).map(_._2) else None),
          "oracle" -> wl.outputOf(i, pass).map(_._1),
          "fs" -> fs1.map { case (k, v) => k -> (v - fs0(k)) },
          "extra" -> (if (a.trace) wl.opExtras(i) else Map.empty))
      }
      val p1 = Clock.ms
      val (gc1, jit1) = (Jvm.gcS, Jvm.jitS)
      span("pass", p0, p1, "", s"p$pass")
      val passOk = ops.filter(_("pass") == pass).forall(_("ok") == true)
      val covered = if (passOk) {
        try wl.endPass(pass) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] pass $pass outputs failed: $e"); Nil
        }
      } else Nil
      covered.foreach { case (oracle, p) =>
        checks += Map("pass" -> pass, "oracle" -> oracle, "output" -> p)
      }
      val extra = if (a.trace && passOk) wl.passExtras(pass) else Map.empty[String, Double]
      passes += Map("pass" -> pass, "timed_s" -> passTimed, "wall_s" -> (p1 - p0) / 1000.0,
        "gc_s" -> (gc1 - gc0), "jit_s" -> (jit1 - jit0), "ok" -> passOk,
        "extra" -> extra)
      System.err.println(f"[perfbench] pass $pass: $passTimed%.3f s timed, ok=$passOk")
    }
    val (busy1, own1, win1) = (Jvm.hostBusyS, Jvm.ownCpuS, Clock.ms)
    val windowS = (win1 - win0) / 1000.0

    // a traced run's per-operation Spark and store numbers
    val traced: Map[String, Any] = recorder.map { r =>
      ListenerBusAccess.drain(sc)
      val stageIv = r.stages.map(s => (s.submitMs.toDouble, s.endMs.toDouble)).toSeq
      r.jobs.foreach(j => span("spark.job", j.startMs, j.endMs, j.op, j.op))
      val perOp = ops.map { o =>
        val id = o("id").asInstanceOf[String]
        val (t0, t1) = (o("start_ms").asInstanceOf[Double], o("end_ms").asInstanceOf[Double])
        val st = r.stages.filter(_.op == id)
        val store = FsTrace.storeSpans(t0, t1)
        store.foreach { case (s0, s1) => span("ManifestStore.publish", s0, s1, id, id) }
        id -> Map(
          "jobs" -> r.jobs.count(_.op == id), "stages" -> st.size,
          "tasks" -> st.map(_.tasks).sum,
          "executor_run_s" -> st.map(_.runS).sum, "executor_cpu_s" -> st.map(_.cpuS).sum,
          "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
          "spill_bytes" -> st.map(_.spill).sum,
          "driver_gap_s" -> Recorder.uncovered(t0, t1, stageIv) / 1000.0,
          "publish_s" -> store.map { case (s0, s1) => s1 - s0 }.sum / 1000.0)
      }.toMap
      // verified pairs over LSH candidates on the planted near-dup panel,
      // with l1's banding (measured after the window, untimed)
      val panel = new StreamWorkload(spark, a.data, a.out, a.slices, 1).dedupPanel
      val pairYield = Map(
        "candidates" -> graft.operators.Dedup.lshCandidates(panel, "id", "t",
          shingleN = 3, k = 16, bands = 4, maxBucket = 1000).count(),
        "verified" -> graft.operators.Dedup.minhashPairs(panel, "id", "t",
          shingleN = 3, k = 16, bands = 4, threshold = 0.8).count())
      Map("ops" -> perOp, "pair_yield" -> pairYield,
        "listeners" -> ListenerBusAccess.countOf(sc, classOf[Recorder]))
    }.getOrElse(Map("listeners" -> ListenerBusAccess.countOf(sc, classOf[Recorder])))

    val oracleSql = graft.SparkEntry.oracleSql.filter { case (k, _) => wl.oracles.contains(k) }
    val fsClass = org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration).getClass.getName
    val raw = Map(
      "workload" -> a.workload, "data" -> a.data, "trace" -> a.trace, "cpus" -> a.cpus,
      "session_ready_s" -> sessionReadyS, "prepare_s" -> prepareS, "setup_s" -> setupS,
      "ops" -> ops, "passes" -> passes, "checks" -> checks, "oracles" -> oracleSql,
      "window_s" -> windowS,
      "host_busy_s" -> (busy1 - busy0), "own_cpu_s" -> (own1 - own0),
      "code_cache_mb" -> Jvm.codeCacheMb, "fs_class" -> fsClass, "traced" -> traced)
    Files.writeString(Paths.get(s"${a.out}/raw.json"), Json(raw))
    if (a.trace) Files.writeString(Paths.get(s"${a.out}/spans.jsonl"),
      spans.map(s => Json(Map("name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op))).mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** Minimal JSON writer for the raw dump. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => apply(v)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => str(k.toString) + ":" + apply(v) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
