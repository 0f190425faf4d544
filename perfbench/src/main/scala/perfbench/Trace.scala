package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path, RawLocalFileSystem}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Local files under their own `countfs://bench/<abs path>` scheme, counting
  * every successful open and every byte read, attributed to the Spark stage
  * whose task did the read (-1 = driver). Traced runs serve their raster
  * sources through it. */
class CountingFileSystem extends RawLocalFileSystem {
  private var uri: URI = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    uri = URI.create(s"${name.getScheme}://${Option(name.getAuthority).getOrElse("")}/")
    super.initialize(name, conf)
  }
  override def getUri: URI = if (uri == null) super.getUri else uri
  override def getScheme: String = CountingFileSystem.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingFileSystem.opens.computeIfAbsent(CountingFileSystem.stage, _ => new LongAdder).increment()
    new FSDataInputStream(new CountingFileSystem.Counted(in))
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  def uriOf(localPath: java.nio.file.Path): String = s"$Scheme://bench${localPath.toAbsolutePath}"

  val opens = new ConcurrentHashMap[Int, LongAdder]()
  val bytes = new ConcurrentHashMap[Int, LongAdder]()
  def reset(): Unit = { opens.clear(); bytes.clear() }

  private def stage: Int = Option(org.apache.spark.TaskContext.get()).map(_.stageId()).getOrElse(-1)
  private def add(n: Long): Unit = bytes.computeIfAbsent(stage, _ => new LongAdder).add(n)

  final class Counted(in: FSDataInputStream) extends FSInputStream {
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(): Int = { val b = in.read(); if (b >= 0) add(1); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(buf, off, len); if (n > 0) add(n); n
    }
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, buf, off, len); if (n > 0) add(n); n
    }
    override def close(): Unit = in.close()
  }
}

/** Per-step accounting of one traced `Pixetl.run`, kept in memory.
  *
  * Every Spark job is attributed to the `Pixetl.run` step whose call site
  * started it: SQL jobs through their execution's call site (so jobs that
  * run on broadcast or AQE threads follow the action that caused them),
  * other jobs through their own. Call sites naming a layer function decide
  * directly; the rest (actions written inline in `Pixetl.run`) take the
  * step that follows the nearest named call above them in `Pixetl.run`'s
  * source order. */
final class StepTrace extends SparkListener {
  import StepTrace._

  private final case class Exec(details: String, start: Long, var end: Long)
  private final case class Job(exec: Option[Long], callSite: String, start: Long, var end: Long)
  final class Acc {
    var cpuNs, gcMs, shuffleWrite, spill, tasks = 0L
    def +=(o: Acc): Unit = {
      cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      spill += o.spill; tasks += o.tasks
    }
  }

  private val execs = mutable.Map.empty[Long, Exec]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[Int, Acc]
  private val parquetRowIds = mutable.Set.empty[Long]
  /** records-written metric of each burn exchange -> its SQL execution */
  private val pixelRowIds = mutable.Map.empty[Long, Long]
  private val metricValues = mutable.Map.empty[Long, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.details, s.time, s.time); scanPlan(s.executionId, s.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.end = s.time)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scanPlan(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(js.jobId) = Job(exec, props.flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse(""),
      js.time, js.time)
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val a = stageAcc.getOrElseUpdate(te.stageId, new Acc)
      a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled; a.tasks += 1
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    for ((id, info) <- sc.stageInfo.accumulables
         if parquetRowIds.contains(id) || pixelRowIds.contains(id))
      info.value.foreach { v =>
        metricValues(id) = math.max(metricValues.getOrElse(id, 0L), v.toString.toLong)
      }
  }

  /** Parquet scans count the feature rows a vector run reads; the burn
    * exchange (hash-partitioned on the pixel columns `px`, `py`) counts the
    * pixel rows the cover emits into the burn aggregate. */
  private def scanPlan(execId: Long, p: SparkPlanInfo): Unit = {
    def walk(n: SparkPlanInfo): Unit = {
      if (n.nodeName.startsWith("Scan parquet"))
        n.metrics.filter(_.name == "number of output rows").foreach(m => parquetRowIds += m.accumulatorId)
      if (n.nodeName.startsWith("Exchange") && n.simpleString.contains("hashpartitioning(px#"))
        n.metrics.filter(_.name == "shuffle records written").foreach(m => pixelRowIds(m.accumulatorId) = execId)
      n.children.foreach(walk)
    }
    walk(p)
  }

  /** Per-step totals once the run has returned and the bus has drained. */
  def report(runStartMs: Long, runEndMs: Long): Report = synchronized {
    def classified(cs: String): Either[Int, String] = {
      val frames = cs.split("\n")
      frames.iterator.flatMap(f => Named.collectFirst { case (sig, step) if f.contains(sig) => step })
        .nextOption() match {
        case Some(step) => Right(step)
        case None => Left(runLine(frames))
      }
    }
    def landmarkOf(cs: String): Option[(Int, String)] = classified(cs).toOption.map(runLine(cs.split("\n")) -> _)
    // executions and jobs of this run only
    val myExecs = execs.filter { case (_, e) => e.start >= runStartMs - 1 && e.start <= runEndMs + 1 }
    val myJobs = jobs.filter { case (_, j) => j.start >= runStartMs - 1 && j.start <= runEndMs + 1 }
    val sites: Seq[String] = myExecs.values.map(_.details).toSeq ++
      myJobs.values.filter(j => j.exec.forall(e => !myExecs.contains(e))).map(_.callSite)
    val landmarks = sites.flatMap(landmarkOf).filter(_._1 >= 0).distinct.sortBy(_._1)
    def resolve(cs: String): String = classified(cs) match {
      case Right(step) => step
      case Left(line) =>
        landmarks.filter(_._1 <= line).lastOption.map(_._2) match {
          case None | Some("sources.harvest") => "sources.harvest"
          case Some("plans.build") => "plans.build"
          case Some("sources.sink") => "pixetl.dual_copy"
          case Some("plans.manifest") => "sources.stats_sidecars"
          case Some("plans.extent") => "plans.status"
          case Some(other) => other
        }
    }
    val execStep = myExecs.map { case (id, e) => id -> resolve(e.details) }
    val jobStep = myJobs.map { case (id, j) =>
      id -> j.exec.flatMap(execStep.get).getOrElse(resolve(j.callSite))
    }
    val intervals = mutable.Map.empty[String, Vector[(Long, Long)]].withDefaultValue(Vector.empty)
    for ((id, e) <- myExecs) intervals(execStep(id)) :+= ((e.start, e.end))
    for ((id, j) <- myJobs if j.exec.forall(e => !myExecs.contains(e))) intervals(jobStep(id)) :+= ((j.start, j.end))
    val acc = mutable.Map.empty[String, Acc]
    for ((stage, a) <- stageAcc; job <- stageJob.get(stage); step <- jobStep.get(job))
      acc.getOrElseUpdate(step, new Acc) += a
    def stepOfStage(stage: Int): String =
      if (stage < 0) "sources.harvest"
      else stageJob.get(stage).flatMap(jobStep.get).getOrElse("sources.harvest")
    val bytesByStep = mutable.Map.empty[String, Long].withDefaultValue(0L)
    CountingFileSystem.bytes.forEach((s, n) => bytesByStep(stepOfStage(s)) += n.sum())
    var opens = 0L
    CountingFileSystem.opens.forEach((_, n) => opens += n.sum())
    Report(
      steps = Steps.map(s => s -> StepStats(unionMs(intervals(s)) / 1e3, acc.getOrElse(s, new Acc))).toMap,
      allWallS = unionMs(intervals.values.flatten.toSeq) / 1e3,
      bytesByStep = bytesByStep.toMap, opens = opens,
      parquetRows = parquetRowIds.toSeq.flatMap(metricValues.get).sum,
      // one pass's rows: the run rebuilds the pixel plane once per step
      pixelRows = pixelRowIds.toSeq.filter(e => myExecs.contains(e._2))
        .groupMapReduce(_._2)(e => metricValues.getOrElse(e._1, 0L))(_ + _).values.maxOption.getOrElse(0L))
  }

  /** Forget everything recorded so far. */
  def clear(): Unit = synchronized {
    execs.clear(); jobs.clear(); stageJob.clear(); stageAcc.clear()
    parquetRowIds.clear(); pixelRowIds.clear(); metricValues.clear(); CountingFileSystem.reset()
  }
}

object StepTrace {
  /** The steps of `Pixetl.run`, in the order it runs them. */
  val Steps: Seq[String] = Seq("sources.harvest", "plans.build", "sources.sink", "pixetl.dual_copy",
    "plans.manifest", "sources.stats_sidecars", "plans.extent", "plans.status")

  /** Call-site frames that name their step outright; innermost match wins. */
  private val Named: Seq[(String, String)] = Seq(
    "graft.sources.GeoTiffSpark$.harvestResolutions" -> "sources.harvest",
    "graft.sources.GeoTiffSpark$.harvestCatalog" -> "sources.harvest",
    "graft.sources.Catalog$.listFolder" -> "sources.harvest",
    "graft.plans.LayerJob$.run(" -> "plans.build",
    "graft.plans.VectorJob$.run(" -> "plans.build",
    "graft.Pixetl$.writeWithPyramid" -> "sources.sink",
    "graft.sources.GeoTiffSpark$.writeTiles" -> "sources.sink",
    "graft.plans.LayerJob$.writeTilesGeojson" -> "plans.manifest",
    "graft.sources.GeoTiffSpark$.writeStatsSidecars" -> "sources.stats_sidecars",
    "graft.plans.LayerJob$.renderExtentGeojson" -> "plans.extent")

  private val RunFrame = """graft\.Pixetl\$\.run\(Pixetl\.scala:(\d+)\)""".r.unanchored

  /** Source line of the `Pixetl.run` frame, -1 when absent. */
  private def runLine(frames: Array[String]): Int =
    frames.collectFirst { case RunFrame(l) => l.toInt }.getOrElse(-1)

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  final case class StepStats(wallS: Double, acc: StepTrace#Acc)
  final case class Report(steps: Map[String, StepStats], allWallS: Double,
                          bytesByStep: Map[String, Long], opens: Long,
                          parquetRows: Long, pixelRows: Long)
}
