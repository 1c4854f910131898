package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.TxTable

/** table-mixed: one closed-loop client on one TxTable. Writes
  * (`append`, `mergeMorKeys`, `deleteMorKeys`) interleave with reads
  * (`pointRead`, `readPrunedOn`), with periodic `compact` and
  * `foldLedgersOver`. The operation sequence is drawn from the seed and
  * its length is fixed by `--seconds`; every read is compared with a
  * model of the table kept on the driver. */
final class TableMixed extends Workload {
  import TableMixed._

  type Outcome = Pass

  private var runs = 0

  def prepare(ctx: Ctx): Unit = ()

  /** A few calls on a scratch table. */
  def warmUp(ctx: Ctx): Unit = {
    runs += 1
    val m = new Model(ctx.seed + 1)
    val root = ctx.dir(s"table-warmup-$runs")
    create(ctx.spark, root, m)
    run(ctx, root, m, WarmOps)
  }

  /** A fresh table from the seed (created before the clock starts), then
    * `OpsPerSecond * seconds` calls. */
  def pass(ctx: Ctx): Pass = {
    runs += 1
    val root = ctx.dir(s"table-$runs")
    val model = new Model(ctx.seed)
    create(ctx.spark, root, model)
    val t0 = ctx.tracer.nowMs
    val calls = ctx.tracer.span("table.client") {
      run(ctx, root, model, opsFor(OpsPerSecond * ctx.seconds))
    }
    Pass(calls, ctx.tracer.nowMs - t0, root, model)
  }

  def wallMs(o: Pass): Double = o.wallMs

  /** Every call returned and every read equalled the model (checked as
    * the calls ran); the table's full content equals the model. */
  def check(ctx: Ctx, o: Pass): Unit = {
    val c = o.calls
    ctx.attempted += c.attempted
    ctx.failed += c.wrong
    ctx.check("table: every call returned and every read equals the model", c.wrong == 0,
      s"${c.wrong} of ${c.attempted} calls threw or read wrong rows")
    val got = TxTable.read(ctx.spark, o.root.getPath).collect().map(rowOf)
    val want = o.model.all
    ctx.check("table: full read equals the model", got.length == want.size && got.toSet == want,
      s"${got.length} rows read, ${want.size} in the model")
    ctx.exactCount("table.log_versions", TxTable.snapshot(o.root.getPath).version + 1)
  }

  def endToEnd(ctx: Ctx, o: Pass): Unit = {
    val lat = o.calls.latencies
    val all = lat.values.flatten.toSeq
    ctx.e2e.put("throughput_per_s", all.size / (o.wallMs / 1000.0), "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.quantile(all, 0.5), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.quantile(all, 0.9), "ms")
    val writes = Seq("append", "merge", "delete", "compact").flatMap(lat.getOrElse(_, Nil))
    val reads = Seq("point_read", "range_read").flatMap(lat.getOrElse(_, Nil))
    ctx.notes("table.commit_p50_ms") = Stats.quantile(writes, 0.5)
    ctx.notes("table.commit_p90_ms") = Stats.quantile(writes, 0.9)
    ctx.notes("table.read_p50_ms") = Stats.quantile(reads, 0.5)
    ctx.notes("table.read_p90_ms") = Stats.quantile(reads, 0.9)
  }

  def perLayer(ctx: Ctx, o: Pass): Unit = {
    val L = ctx.layer
    val lat = o.calls.latencies
    for (k <- Seq("append", "merge", "delete", "compact", "point_read", "range_read"))
      L.put(s"table.${k}_ms", lat.get(k).filter(_.nonEmpty).map(Stats.median).getOrElse(0.0), "ms")
    val m = o.model
    L.put("table.files_read_frac",
      if (m.filesLive == 0) 0.0 else m.filesRead.toDouble / m.filesLive, "ratio")
    L.put("table.write_amp", Files2.bytesUnder(o.root).toDouble / m.userBytes, "ratio")
    val snap = TxTable.snapshot(o.root.getPath)
    L.put("table.log_versions", (snap.version + 1).toDouble, "count")
    L.put("table.live_files", snap.files.size.toDouble, "count")
    L.put("table.ledger_pressure", TxTable.ledgerPressure(o.root.getPath)._1.toDouble, "count")
  }

  private def opsFor(n: Int): Seq[String] = Iterator.continually(Ops).flatten.take(n).toSeq

  /** Runs `ops` against the table. A call's inputs are built before its
    * clock starts; a read is compared with the model, and with tracing
    * on its file-pruning accounting taken, after the clock stops. Calls
    * that throw or read wrong rows are counted, and their times left
    * out of the latencies. */
  private def run(ctx: Ctx, root: File, m: Model, ops: Seq[String]): Calls = {
    val spark = ctx.spark
    val path = root.getPath
    val lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var maintained = 0
    var wrong = 0
    for ((op, k) <- ops.zipWithIndex) {
      val kind = op match {
        case "maintain" =>
          maintained += 1
          if (maintained % 2 == 1) "compact" else "fold"
        case o => o
      }
      var dt = 0.0
      def timed[T](f: => T): Option[T] = {
        val t0 = ctx.tracer.nowMs
        try {
          val v = ctx.tracer.span(s"table.$kind")(f)
          dt = ctx.tracer.nowMs - t0
          Some(v)
        } catch { case e: Exception => e.printStackTrace(); None }
      }
      val ok = kind match {
        case "append" =>
          val rows = m.newRows(AppendRows)
          val df = frame(spark, rows)
          timed(TxTable.append(spark, path, df)).map(_ => m.put(rows)).isDefined
        case "merge" =>
          val rows = m.changed(MergeRows)
          val df = frame(spark, rows)
          timed(TxTable.mergeMorKeys(spark, path, df, Seq("id"))).map(_ => m.put(rows)).isDefined
        case "delete" =>
          val ids = m.existing(DeleteRows)
          val df = spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_)), 1),
            StructType(Seq(StructField("id", LongType))))
          timed(TxTable.deleteMorKeys(spark, path, df, Seq("id"))).map(_ => m.delete(ids))
            .isDefined
        case "compact" =>
          timed(TxTable.compact(spark, path, CompactFiles)).isDefined
        case "fold" =>
          timed(TxTable.foldLedgersOver(spark, path, MaxLedgers)).isDefined
        case "point_read" =>
          val keys = m.probe(PointKeys)
          val got = timed(TxTable.pointRead(spark, path, keys).collect())
          if (ctx.tracer.enabled) m.countFiles(TxTable.pointPruneAccounting(path, keys) match {
            case (_, kept, total) => (kept, total) })
          got.exists(_.map(rowOf).toSet == m.rowsOf(keys))
        case "range_read" =>
          val lo = m.rangeStart(RangeWidth)
          val got = timed(TxTable.readPrunedOn(spark, path, "id", lo, lo + RangeWidth - 1).collect())
          if (ctx.tracer.enabled) m.countFiles(TxTable.pruneAccounting(path, lo, lo + RangeWidth - 1))
          got.exists(_.map(rowOf).toSet == m.rowsOf(lo until lo + RangeWidth))
      }
      if (ok) lat.getOrElseUpdate(if (kind == "fold") "compact" else kind, ArrayBuffer.empty) += dt
      else {
        wrong += 1
        System.err.println(s"[perfbench] table op $k ($kind) failed or read wrong rows")
      }
    }
    Calls(lat.map { case (k, v) => k -> v.toSeq }.toMap, ops.size, wrong)
  }

  private def create(spark: SparkSession, root: File, m: Model): Unit = {
    val rows = m.newRows(InitialRows)
    TxTable.create(frame(spark, rows), root.getPath, Some("id"))
    m.put(rows)
  }
}

object TableMixed {
  type R = (Long, Long, String)
  /** Latencies of the calls that returned (and read the right rows), by
    * call kind; all calls; calls that threw or read wrong rows. */
  final case class Calls(latencies: Map[String, Seq[Double]], attempted: Int, wrong: Int)
  final case class Pass(calls: Calls, wallMs: Double, root: File, model: Model)

  val InitialRows = 20000
  val AppendRows = 2000
  val MergeRows = 400
  val DeleteRows = 200
  val PointKeys = 8
  val RangeWidth = 1000L
  val CompactFiles = 4
  val MaxLedgers = 1
  /** Calls a second the sequence is sized for (closed loop: the client
    * issues the next call when the previous returns). */
  val OpsPerSecond = 7
  /** One maintenance call in twenty keeps p90 among the regular calls. */
  val Ops: Seq[String] = Seq.fill(2)(Seq("append", "point_read", "range_read", "merge",
    "point_read", "range_read", "delete", "point_read", "range_read")).flatten ++
    Seq("point_read", "maintain")
  val WarmOps: Seq[String] = Seq("append", "point_read", "range_read")

  val Schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType),
    StructField("payload", StringType)))

  def frame(spark: SparkSession, rows: Seq[R]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v, p) => Row(i, v, p) }, 2), Schema)

  def rowOf(r: Row): R = (r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("v")),
    r.getString(r.fieldIndex("payload")))

  /** The table as the client believes it to be, and the seeded choices
    * of keys. */
  final class Model(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val live = mutable.LongMap.empty[(Long, String)]
    private var next = 0L
    var userBytes = 0L
    var filesRead = 0L
    var filesLive = 0L

    private def payload(): String = {
      val n = 16 + rnd.nextInt(48)
      val b = new StringBuilder(n)
      for (_ <- 0 until n) b += ('a' + rnd.nextInt(26)).toChar
      b.toString
    }
    def newRows(n: Int): Seq[R] = (0 until n).map { _ =>
      val id = next; next += 1; (id, rnd.nextLong(1000000L), payload()) }
    private def liveId(): Long = {
      var id = rnd.nextLong(next)
      while (!live.contains(id)) id = rnd.nextLong(next)
      id
    }
    def existing(n: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < math.min(n, live.size)) s += liveId()
      s.toSeq
    }
    def changed(n: Int): Seq[R] = existing(n).map(id => (id, rnd.nextLong(1000000L), payload()))
    def probe(n: Int): Seq[Long] = (0 until n).map(_ => rnd.nextLong(next + n))
    def rangeStart(width: Long): Long = rnd.nextLong(math.max(1L, next - width / 2))
    def put(rows: Seq[R]): Unit = rows.foreach { case (i, v, p) =>
      live(i) = (v, p); userBytes += 16 + p.length }
    def delete(ids: Seq[Long]): Unit = ids.foreach(live.remove)
    def rowsOf(ids: Iterable[Long]): Set[R] =
      ids.flatMap(i => live.get(i).map { case (v, p) => (i, v, p) }).toSet
    def all: Set[R] = live.iterator.map { case (i, (v, p)) => (i, v, p) }.toSet
    def countFiles(readTotal: (Int, Int)): Unit = {
      filesRead += readTotal._1; filesLive += readTotal._2 }
  }
}
