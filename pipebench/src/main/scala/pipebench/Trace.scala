package pipebench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{StructField, StructType}
import graft.dq.{ConsoleNotifier, GateResult, Notifier}
import graft.store.TableStore

/** Spark work attributed to one label. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Sorts job, stage and task metrics into labels. A job's span label is
  * the `pipebench.span` local property of the thread that submitted it
  * (streaming threads inherit it from the thread that started the
  * query), else the label of the current window; its store label is
  * the `pipebench.store` property the store decorator sets around each
  * call. Events arrive on the listener bus asynchronously, so window
  * changes go through [[Tracer.window]], which drains the bus first. */
final class SpanListener extends SparkListener {
  @volatile private[pipebench] var window = "other"
  private val stageLabels = mutable.Map.empty[Int, (String, String)]
  val bySpan = mutable.Map.empty[String, SparkWork]
  val byStore = mutable.Map.empty[String, SparkWork]
  val total = new SparkWork

  private def accs(labels: (String, String)): Seq[SparkWork] =
    Seq(total, bySpan.getOrElseUpdate(labels._1, new SparkWork)) ++
      (if (labels._2.isEmpty) Nil
       else Seq(byStore.getOrElseUpdate(labels._2, new SparkWork)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val labels = (prop(Tracer.SpanKey).getOrElse(window),
      prop(Tracer.StoreKey).getOrElse(""))
    e.stageIds.foreach(id => stageLabels(id) = labels)
    accs(labels).foreach(_.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val labels = stageLabels.getOrElse(e.stageId, (window, ""))
    accs(labels).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.cpuNanos += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def span(label: String): SparkWork = synchronized {
    bySpan.getOrElse(label, new SparkWork)
  }
}

/** Per-trigger progress of every streaming query, by query id. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.Map.empty[String, mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      progress.getOrElseUpdate(e.progress.id.toString,
        mutable.ArrayBuffer.empty) += e.progress
    }
}

/** Timing of one store operation across a run. */
final class StoreOp {
  var calls = 0L
  var nanos = 0L
  var rows = 0L
}

/** The traced run's recorder. Everything stays in memory until the run
  * ends; nothing here runs inside the program. */
final class Tracer(val spark: SparkSession) {
  val listener = new SpanListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(progress)

  val storeOps = mutable.Map.empty[String, StoreOp]
  /** Closed spans: (label, seconds). */
  val spans = mutable.ArrayBuffer.empty[(String, Double)]
  private var cycle: Option[CycleSpans] = None

  /** Runs `body` with a local property set on the calling thread. */
  def withProp[T](key: String, value: String)(body: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, old)
  }

  /** Switches the window label at a drained listener bus. */
  def window(label: String): Unit = {
    Session.drainBus(spark)
    listener.window = label
  }

  def store(backend: TableStore): TableStore = new TracedStore(backend, this)
  def notifier: Notifier = new Notifier {
    def notify(layer: String, result: GateResult): Unit = {
      ConsoleNotifier.notify(layer, result)
      boundary(s"gate:$layer")
    }
  }

  private[pipebench] def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = withProp(Tracer.StoreKey, op)(body)
    synchronized {
      val s = storeOps.getOrElseUpdate(op, new StoreOp)
      s.calls += 1
      s.nanos += System.nanoTime() - t0
      out match { case n: Long if op == "merge_insert_only" => s.rows += n
                  case _ => () }
    }
    out
  }

  /** Opens the fixed span sequence of one `runCycle`; `phase` is
    * `first` or `incr`. */
  def beginCycle(phase: String): Unit = {
    val c = new CycleSpans(phase)
    cycle = Some(c)
    c.open()
  }
  /** Closes the cycle; returns the seconds its spans cover. */
  def endCycle(): Double = {
    val c = cycle.getOrElse(sys.error("no open cycle"))
    cycle = None
    window("other")
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
    require(c.done, s"cycle spans stopped at ${c.current}: runCycle's order changed")
    c.covered
  }
  private[pipebench] def boundary(event: String): Unit = cycle.foreach(_.close(event))

  /** Spans of `runCycle`, in its fixed order, each closed by the store
    * write or gate notification that ends it. */
  private final class CycleSpans(phase: String) {
    private var i = 0
    private var t0 = 0L
    var covered = 0.0
    def done: Boolean = i == Tracer.CycleOrder.size
    def current: String = if (done) "end" else Tracer.CycleOrder(i)._1
    def open(): Unit = {
      val label = s"$current.$phase"
      window(label)
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, label)
      t0 = System.nanoTime()
    }
    def close(event: String): Unit =
      if (!done && Tracer.CycleOrder(i)._2 == event) {
        val s = Stats.seconds(t0)
        spans += (s"$current.$phase" -> s)
        covered += s
        i += 1
        if (!done) open()
      }
  }
}

object Tracer {
  val SpanKey = "pipebench.span"
  val StoreKey = "pipebench.store"
  /** `runCycle`'s spans in order, each with the boundary that ends it. */
  val CycleOrder: Seq[(String, String)] = Seq(
    "dq.bronze_gate" -> "gate:bronze",
    "wiki.silver" -> "upsert:silver.cleaned_events",
    "dq.silver_profile" -> "append:dq_audit.profile_metrics",
    "dq.silver_gate" -> "gate:silver",
    "wiki.gold.hourly_stats" -> "upsert:gold.hourly_stats",
    "wiki.gold.risk_scores" -> "upsert:gold.risk_scores",
    "wiki.gold.daily_summary" -> "upsert:gold.daily_analytics_summary",
    "dq.gold_gate" -> "gate:gold")
  val CycleSpanNames: Seq[String] = CycleOrder.map(_._1)
}

/** Times each store call and forwards EVERY `TableStore` method to the
  * backend, including those with default bodies, so the backend's own
  * overrides run exactly as they do untraced. */
final class TracedStore(backend: TableStore, t: Tracer) extends TableStore {
  def ensure(name: String, schema: StructType, partitionBy: Seq[String]): Unit =
    backend.ensure(name, schema, partitionBy)
  def exists(name: String): Boolean = backend.exists(name)
  def scan(name: String): DataFrame = backend.scan(name)
  override def scanRange(name: String, dateCol: String, start: String,
                         end: String): DataFrame =
    t.timed("scan_range")(backend.scanRange(name, dateCol, start, end))
  def append(name: String, df: DataFrame): Unit = {
    t.timed("append")(backend.append(name, df))
    t.boundary(s"append:$name")
  }
  def mergeInsertOnly(name: String, incoming: DataFrame, keys: Seq[String]): Long =
    t.timed("merge_insert_only")(backend.mergeInsertOnly(name, incoming, keys))
  def mergeUpsert(name: String, incoming: DataFrame, keys: Seq[String]): Unit = {
    t.timed("merge_upsert")(backend.mergeUpsert(name, incoming, keys))
    t.boundary(s"upsert:$name")
  }
  def delete(name: String, predicate: Column): Long = backend.delete(name, predicate)
  def deleteKeys(name: String, keysDf: DataFrame, keyCols: Seq[String]): Long =
    backend.deleteKeys(name, keysDf, keyCols)
  def addColumn(name: String, field: StructField): Unit = backend.addColumn(name, field)
  def compact(name: String, targetBytes: Long, clusterBy: Seq[String]): (Long, Long) =
    backend.compact(name, targetBytes, clusterBy)
  override def smallFileCount(name: String, targetBytes: Long): Int =
    backend.smallFileCount(name, targetBytes)
}
