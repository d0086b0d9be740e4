package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task and scheduler totals since the last [[Meter.take]]. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var deserializeMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var rddBlockBytes = 0L
  val queries = mutable.ArrayBuffer.empty[QueryExecution]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; deserializeMs += o.deserializeMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillDisk += o.spillDisk
    rddBlockBytes += o.rddBlockBytes
    queries ++= o.queries
  }
}

/** Reads Spark's public listener APIs from outside the program.
  *
  * Listener events arrive on Spark's asynchronous bus. [[barrier]] runs a
  * one-task job and waits until this listener has seen it end; the
  * query-execution listener shares that queue, so afterwards every event
  * of the work before the barrier has been counted. Barrier jobs are
  * left out of every count.
  */
final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val BarrierGroup = "perfbench-barrier"
  private var cur = new Counters
  private val barrierJobs = mutable.Set.empty[Int]
  private val barrierStages = mutable.Set.empty[Int]
  @volatile private var latch: CountDownLatch = null

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def isBarrier(p: java.util.Properties): Boolean =
    p != null && p.getProperty("spark.jobGroup.id") == BarrierGroup

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (isBarrier(e.properties)) { barrierJobs += e.jobId; barrierStages ++= e.stageIds }
    else cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (synchronized(barrierJobs.remove(e.jobId)) && latch != null) latch.countDown()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!barrierStages.remove(e.stageInfo.stageId)) cur.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !barrierStages.contains(e.stageId)) {
      cur.tasks += 1
      cur.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      cur.runMs += m.executorRunTime
      cur.gcMs += m.jvmGCTime
      cur.deserializeMs += m.executorDeserializeTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillDisk += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cur.rddBlockBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(cur.queries += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted before this call has been counted. */
  def barrier(): Unit = {
    val sc = spark.sparkContext
    val l = new CountDownLatch(1)
    latch = l
    val keys = Seq("spark.jobGroup.id", "spark.job.description")
    val saved = keys.map(sc.getLocalProperty)
    sc.setJobGroup(BarrierGroup, "perfbench event barrier", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count()
    finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    require(l.await(60, TimeUnit.SECONDS), "listener bus did not deliver the barrier job's end")
  }

  /** Counters since the previous call; call after [[barrier]]. */
  def take(): Counters = synchronized { val c = cur; cur = new Counters; c }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Heap occupancy left after each garbage collection, from the JVM's GC
  * notifications: the highest value since [[HeapWatch.reset]]. */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  /** Heap occupancy right after a full collection. */
  def collected(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def peakBytes: Long = peak.get
}
