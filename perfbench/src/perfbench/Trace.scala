package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer. Times are `System.nanoTime` values;
  * `parent` is the id of the enclosing span (0 at the top) and `op` the
  * operation the span belongs to: its index, warm-up operations first; -1
  * during set-up.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Span recorder for the benchmark's own calls into the engine.
  *
  * Every call is wrapped the same way in both modes: the Spark job
  * description is set to `pb:<layer>` so the listener can attribute the
  * jobs the call launches. Only a traced run keeps the spans. All spans
  * are opened on the one client thread, so a plain stack gives parents.
  */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var currentOp: Int = -1
  @volatile var currentLayer: String = "bench"

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val outerLayer = currentLayer
    stack = id :: stack
    currentLayer = name
    sc.setJobDescription(s"pb:$name")
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      currentLayer = outerLayer
      sc.setJobDescription(if (stack.isEmpty) null else s"pb:$outerLayer")
      if (traced) spans += Span(id, parent, currentOp, name, t0, t1)
    }
  }

  /** A span measured elsewhere (a streaming trigger phase), placed under
    * the innermost open span.
    */
  def external(name: String, startNs: Long, endNs: Long): Unit =
    if (traced) {
      spans += Span(nextId, stack.headOption.getOrElse(0), currentOp, name, startNs, endNs)
      nextId += 1
    }

  def all: Seq[Span] = spans.toSeq
}

/** Spark work attributed to one (operation, layer) pair. */
final class LayerCounts {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** Attributes Spark jobs, stages and task metrics to layers from outside
  * the engine. A job whose description is `pb:<layer>` belongs to that
  * layer; a job run by a streaming query (it carries the query id) belongs
  * to `stream`; any other job belongs to the innermost open span.
  * The operation is the recorder's current one when the job starts.
  */
final class LayerListener(rec: Recorder) extends SparkListener {
  private val counts = new ConcurrentHashMap[(Int, String), LayerCounts]()
  private val stageKey = new ConcurrentHashMap[Int, (Int, String)]()

  private def of(key: (Int, String)): LayerCounts =
    counts.computeIfAbsent(key, _ => new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    val layer = desc match {
      case Some(d) if d.startsWith("pb:") => d.drop(3)
      case _ if props.exists(_.getProperty("sql.streaming.queryId") != null) => "stream"
      case _ => rec.currentLayer
    }
    val key = (rec.currentOp, layer)
    e.stageIds.foreach(s => stageKey.put(s, key))
    val c = of(key)
    c.synchronized(c.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = of(k)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = of(k)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Counts for one operation, summed over the named layers (all when empty). */
  def forOp(op: Int, layers: Set[String] = Set.empty): LayerCounts = {
    val out = new LayerCounts
    counts.asScala.foreach { case ((o, l), c) =>
      if (o == op && (layers.isEmpty || layers(l))) {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.taskMs += c.taskMs; out.shuffleWriteBytes += c.shuffleWriteBytes
        out.spillBytes += c.spillBytes
      }
    }
    out
  }
}
