package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.SparkEntry
import graft.ext.SimSearch
import graft.pipeline.StoreCompact

/** Closed-loop runner for one benchmark workload: one client, the next
  * operation starts when the previous one returns.
  *
  * It calls graft's public entry points the way a user would, times each
  * call, and writes raw samples (operation times, served ids, spans and
  * Spark counters) as JSON to `--out`. The statistics and the output
  * checks are computed by `perfbench/run.py` from that file.
  *
  * Usage: Harness --workload <name> --data <dir> --work <dir> --out <file>
  *        --seconds <n> --seed <n> --trace <0|1>
  */
object Harness {
  // Subsets of the headline keys sized so a run fits its time budget on a
  // 4-core box; see perfbench/README.md for why each key is here.
  val Warehouse: Seq[String] = Seq(
    "agg_q1_pricing", "join_star_q5", "join_salted_skew", "join_bloom_pruned",
    "join_asof_native", "src_dpp_pruned", "fin_twap")
  val LlmFixpoint: Seq[String] = Seq("graph_pagerank", "dedup_minhash")

  val K = 10

  val slots: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  final case class Args(workload: String, data: String, work: String, out: String,
                        seconds: Double, seed: Long, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m("trace") == "1")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still in use after full collections, in MB: the live set the
    * workload holds (graft's memos, checkpointed and cached blocks, plans).
    * It is the heap pools' usage right after a full collection, so nothing
    * allocated since counts. A collection lets Spark's ContextCleaner
    * release the blocks and shuffles of dropped plans, which the next one
    * frees; so collect until two readings in a row have stopped falling
    * (at most 12 collections).
    * Returns every reading; the last is the live set. */
  def liveHeapMb(): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    def collect(): Double = {
      System.gc()
      pools.map(_.getCollectionUsage.getUsed).sum / 1048576.0
    }
    val readings = mutable.ArrayBuffer(collect())
    def fell(i: Int): Boolean = readings(i - 1) - readings(i) > 0.25
    while (readings.size < 12 && (readings.size < 4 || fell(readings.size - 1) || fell(readings.size - 2))) {
      Thread.sleep(200)
      readings += collect()
    }
    readings.toSeq
  }

  /** Let set-up's lazy work finish before timing starts: wait (up to 5 s)
    * until the JIT compiler has drained the compilations set-up queued.
    * Measuring the live heap first counts toward that wait. */
  def settle(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  /** Fixed CPU work, timed: a load probe recorded beside each run. */
  def calib(s: SparkSession): Double = {
    val t0 = System.nanoTime()
    s.range(200000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Json
    out.str("workload", a.workload).num("seed", a.seed.toDouble).num("trace", if (a.trace) 1 else 0)
    val spark = session(a)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    out.num("session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val tracer = new Tracer(spark, a.trace)
    val state: Workload = a.workload match {
      case "warehouse" => new Queries(spark, a, Warehouse)
      case "llm_fixpoint" => new Queries(spark, a, LlmFixpoint)
      case "ann_lifecycle" => new AnnLifecycle(spark, a)
      case w => sys.error(s"unknown workload $w")
    }
    state.setup(tracer)
    val settled = System.nanoTime()
    // the live heap after set-up's fixed amount of work; after the timed
    // loop it would grow with the number of passes that fit in it
    val heap = liveHeapMb()
    out.num("live_heap_mb", heap.last).nums("live_heap_readings", heap)
    settle()
    out.num("settle_s", (System.nanoTime() - settled) / 1e9)
    // an instant, so the caller can time set-up from the moment it
    // launched this process
    out.num("setup_end_epoch_ms", System.currentTimeMillis().toDouble)
    out.num("calib_s", calib(spark))
    state.run(tracer, out)
    out.num("tracer_s", tracer.ownNs / 1e9)
    out.raw("spans", tracer.spans.map { s =>
      new Json().num("id", s.id).num("parent", s.parent).str("op", s.op)
        .str("name", s.name).num("start_ns", s.startNs.toDouble).num("end_ns", s.endNs.toDouble).render
    }.mkString("[", ",", "]"))
    out.raw("setup_ops", state.setupOps.mkString("[", ",", "]"))
    out.raw("counters", tracer.counters.map { case (op, c) =>
      Json.q(op) + ":" + c.foldLeft(new Json) { case (j, (k, v)) => j.num(k, v) }.render
    }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(a.out), out.render)
    spark.stop()
  }
}

/** A workload: set-up (warm-up, fills, seeding) then the timed loop. */
trait Workload {
  def setup(t: Tracer): Unit
  def run(t: Tracer, out: Json): Unit

  /** Set-up's operations in the order they ran, as JSON objects (`id`,
    * `kind`); a traced run files their counters under `id`. */
  val setupOps = mutable.ArrayBuffer.empty[String]

  /** Run one set-up operation, traced as operation `id`. */
  def setupOp[T](t: Tracer, id: String, kind: String)(body: => T): T = {
    setupOps += new Json().str("id", id).str("kind", kind).render
    t.op(id, kind)(body)
  }
}

/** Query workloads: passes over a key list, shuffled per pass by the seed.
  *
  * Set-up runs every key twice, one key after another. The cold round is
  * each key's first run and fills graft's per-session memos; the warm
  * round takes the path the timed passes take. Both rounds write their
  * results under `<work>/results/<round>/<key>` for the oracle check, and
  * together they are the warm-up: JIT, codegen, parquet footers and memos. */
final class Queries(spark: SparkSession, a: Harness.Args, keys: Seq[String]) extends Workload {
  private val results = s"${a.work}/results"
  private val checked = mutable.ArrayBuffer.empty[String]

  def setup(t: Tracer): Unit =
    for (round <- Seq("cold", "warm"); k <- keys) {
      val id = if (round == "cold") s"setup-$k" else s"setup-$round-$k"
      val dir = s"$results/$round/$k"
      val err = try {
        setupOp(t, id, k) { SparkEntry.queries(k)(spark, a.data).write.mode("overwrite").parquet(dir) }
        ""
      } catch { case e: Throwable => Json.err(e) }
      checked += new Json().str("key", k).str("round", round).str("dir", dir).str("err", err).render
    }

  def run(t: Tracer, out: Json): Unit = {
    val rnd = new Random(a.seed)
    val ops = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val order = rnd.shuffle(keys)
      val p0 = System.nanoTime()
      order.foreach { k =>
        val id = s"op-$n"
        n += 1
        var err = ""
        val t0 = System.nanoTime()
        try t.op(id, k) {
          val df = t.span("build") { SparkEntry.queries(k)(spark, a.data) }
          t.plan(id, df)
          t.span("execute") { df.write.format("noop").mode("overwrite").save() }
        } catch { case e: Throwable => err = Json.err(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        ops += new Json().str("id", id).str("kind", "query").str("key", k).num("pass", pass)
          .num("secs", secs).str("err", err).render
      }
      val ps = (System.nanoTime() - p0) / 1e9
      passes += ps
      pass += 1
    }
    out.nums("pass_s", passes.toSeq)
    out.raw("ops", ops.mkString("[", ",", "]"))
    out.raw("checked", checked.mkString("[", ",", "]"))
    out.raw("oracle_sql", keys.flatMap(k => SparkEntry.oracleSql.get(k).map(Json.q(k) + ":" + Json.q(_)))
      .mkString("{", ",", "}"))
  }
}

/** The persisted HNSW epoch store through one lifecycle per pass: the
  * other half of `embeddings` appended as one delta epoch, a probe served,
  * the store compacted, and the same probe served again.
  *
  * The seed picks which half of `embeddings` seeds the store and the
  * distinct probe ids. Set-up seeds a template store once and runs one
  * untimed lifecycle on a copy, serving `WarmProbes` probes of their own
  * (half before the compaction, half after) so that recall rests on more
  * than the timed probe. Each pass starts from a fresh copy of the
  * template, so every pass replays the same lifecycle. */
final class AnnLifecycle(spark: SparkSession, a: Harness.Args) extends Workload {
  import Harness._
  private val rnd = new Random(a.seed)
  private val vecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"${a.data}/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private val ids = rnd.shuffle(vecs.keys.toSeq.sorted)
  private val seedIds = ids.take(ids.size / 2)
  private val delta = ids.drop(ids.size / 2)
  private val WarmProbes = 4
  private val timedProbe +: warmProbes = rnd.shuffle(ids).take(WarmProbes + 1)
  // every served answer, set-up's included, for the checks and recall
  private val serves = mutable.ArrayBuffer.empty[String]
  private val template = s"${a.work}/ann_template"
  private val store = s"${a.work}/ann_store"
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def frame(ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(i => Row(i, vecs(i).toSeq)): _*), schema)

  private def probe(id: Long): DataFrame = frame(Seq(id)).select("embedding")

  private def serve(id: Long): Seq[Long] =
    SimSearch.serveHnswFromStore(spark, store, probe(id), k = K).collect().map(_.getLong(0)).toSeq

  /** Record a served answer with the exact one over the full store (every
    * serve follows the delta, so the store holds every vector). */
  private def record(op: String, pid: Long, served: Seq[Long]): Unit =
    serves += new Json().str("op", op).num("probe", pid.toDouble).nums("served", served.map(_.toDouble))
      .nums("exact", exact(pid, ids).map(_.toDouble))
      .nums("store_ids_missing", served.filterNot(vecs.contains).map(_.toDouble)).render

  def setup(t: Tracer): Unit = {
    // graft's SQL functions, which the query keys register for themselves
    graft.functions.VectorFunctions.register(spark)
    Files.createDirectories(Paths.get(a.work))
    Store.delete(template)
    setupOp(t, "setup-seed", "seed") {
      t.span("SimSearch.hnswStoreSeed") { SimSearch.hnswStoreSeed(frame(seedIds), template) }
    }
    // warm-up: one untimed lifecycle on a copy, so the timed pass is the
    // second run of every code path (deltas and compaction included); its
    // probes add to the recall sample
    Store.copy(template, store)
    setupOp(t, "setup-delta", "delta") { SimSearch.hnswDelta(frame(delta), store, 0L) }
    val (before, after) = warmProbes.splitAt(WarmProbes / 2)
    def warmServe(pid: Long): Unit = {
      val id = s"setup-serve-${serves.size}"
      record(id, pid, setupOp(t, id, "serve")(serve(pid)))
    }
    before.foreach(warmServe)
    setupOp(t, "setup-compact", "compact") { StoreCompact.compactHnswStore(spark, store) }
    after.foreach(warmServe)
    Store.delete(store)
  }

  /** Exact top-k by cosine over `pool`, ties to the smaller id. */
  private def exact(q: Long, pool: Seq[Long]): Seq[Long] = {
    val p = vecs(q)
    def cos(v: Array[Float]): Double = {
      var d = 0.0; var nq = 0.0; var nv = 0.0
      var i = 0
      while (i < p.length) { d += p(i) * v(i); nq += p(i) * p(i); nv += v(i) * v(i); i += 1 }
      d / math.sqrt(nq * nv)
    }
    pool.map(i => (-cos(vecs(i)), i)).sorted.take(K).map(_._2)
  }

  def run(t: Tracer, out: Json): Unit = {
    val ops = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[Double]
    val stores = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      Store.delete(store)
      Store.copy(template, store)
      // kind: the operation; layer: the graft call it times (its span)
      def timed[T](kind: String, detail: String, layer: String)(body: => T): (T, String) = {
        val id = s"op-$n"
        n += 1
        val t0 = System.nanoTime()
        var err = ""
        val r = try Some(t.op(id, kind)(t.span(layer)(body)))
          catch { case e: Throwable => err = Json.err(e); None }
        ops += new Json().str("id", id).str("kind", kind).str("key", detail).num("pass", pass)
          .num("secs", (System.nanoTime() - t0) / 1e9).str("err", err).render
        (r.getOrElse(null.asInstanceOf[T]), id)
      }
      def serveOne(pid: Long): Seq[Long] = {
        val (got, id) = timed("serve", s"probe-$pid", "SimSearch.serveHnswFromStore")(serve(pid))
        val served = Option(got).getOrElse(Seq.empty)
        record(id, pid, served)
        served
      }
      val p0 = System.nanoTime()
      timed("delta", "epoch-0", "SimSearch.hnswDelta") { SimSearch.hnswDelta(frame(delta), store, 0L) }
      val before = serveOne(timedProbe)
      timed("compact", "after-epoch-0", "StoreCompact.compactHnswStore") {
        StoreCompact.compactHnswStore(spark, store)
      }
      // the probe served just before compaction, served again after it
      val after = serveOne(timedProbe)
      checks += new Json().num("probe", timedProbe.toDouble).nums("before", before.map(_.toDouble))
        .nums("after", after.map(_.toDouble)).render
      val ps = (System.nanoTime() - p0) / 1e9
      passes += ps
      val st = Store.stats(store)
      stores += new Json().num("bytes", st._1.toDouble).num("files", st._2.toDouble)
        .num("epoch_dirs", st._3.toDouble)
        .num("vec_bytes", ids.size.toDouble * vecs.head._2.length * 4).render
      pass += 1
    }
    Store.delete(store)
    out.nums("pass_s", passes.toSeq)
    out.raw("ops", ops.mkString("[", ",", "]"))
    out.raw("serves", serves.mkString("[", ",", "]"))
    out.raw("compact_checks", checks.mkString("[", ",", "]"))
    out.raw("stores", stores.mkString("[", ",", "]"))
  }
}

/** Local-filesystem helpers for the store directories the workload owns. */
object Store {
  private def walk(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList } finally s.close()
    }
  }

  def delete(p: String): Unit = walk(p).reverse.foreach(Files.delete)

  def copy(from: String, to: String): Unit = walk(from).foreach { src =>
    val dst = Paths.get(to).resolve(Paths.get(from).relativize(src))
    if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
  }

  /** (bytes, data files, epoch directories) of a store, hidden files excluded. */
  def stats(p: String): (Long, Int, Int) = {
    val all = walk(p).filterNot(x => Paths.get(p).relativize(x).toString.split('/')
      .exists(n => n.startsWith(".") || n.startsWith("_")))
    val files = all.filter(Files.isRegularFile(_))
    (files.map(Files.size).sum, files.size,
      all.count(x => Files.isDirectory(x) && x.getFileName.toString.startsWith("epoch=")))
  }
}

/** A flat JSON object writer: enough for the harness's output file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def str(k: String, v: String): Json = { fields += Json.q(k) + ":" + Json.q(v); this }
  def num(k: String, v: Double): Json = { fields += Json.q(k) + ":" + Json.n(v); this }
  def nums(k: String, v: Seq[Double]): Json = { fields += Json.q(k) + ":" + v.map(Json.n).mkString("[", ",", "]"); this }
  def raw(k: String, v: String): Json = { fields += Json.q(k) + ":" + v; this }
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def n(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def err(e: Throwable): String = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}
