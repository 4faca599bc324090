package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** One op as the client saw it: `kind` is read, write or build; times
  * are nanoseconds on the harness timeline.
  */
final case class OpRec(id: Int, name: String, kind: String, pass: Int,
                       t0: Long, t1: Long, ok: Boolean, err: String)

/** The single closed-loop client: runs one op at a time, times it from
  * outside the program, and wraps each call into a layer in a span.
  * Work done between ops for the benchmark's own accounting (disk
  * walks) is timed as bookkeeping and left out of the makespan.
  */
final class Runner(val s: SparkSession, val tr: Tracer, val dir: String) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var bookkeepingNs = 0L
  var bytesWritten = 0L
  var filesWritten = 0L
  var appliedBytes = 0L
  private var opSeq = 0
  /** Id of the op running now (the last one started). */
  def currentOp: Int = opSeq

  private def drain(): Unit =
    org.apache.spark.GraftSparkBridge.drainListenerBus(s.sparkContext)

  def op(name: String, kind: String, pass: Int)(body: => Unit): Boolean = {
    drain()
    opSeq += 1
    tr.currentOp = opSeq
    val t0 = System.nanoTime()
    val err =
      try { tr.span(name, "op")(body); "" }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.toString.take(300)
      }
    val t1 = System.nanoTime()
    drain()
    ops += OpRec(opSeq, name, kind, pass, t0, t1, err.isEmpty, err)
    err.isEmpty
  }

  /** A read: frame construction in `layer`, planning, then the action —
    * the noop sink, as Bench runs it, or `collect` when the rows are
    * the client's answer.
    */
  def read(name: String, pass: Int, layer: String = "operators",
           collect: Boolean = false)(construct: => DataFrame): Option[Array[Row]] = {
    var rows: Option[Array[Row]] = None
    op(name, "read", pass) {
      val df = tr.span("construct", layer)(construct)
      tr.span("plan", "plans")(df.queryExecution.executedPlan)
      // the frame's own phases: a noop write plans again under a command
      // with a tracker of its own, which only the query listener reports
      tr.phases(df.queryExecution, tr.currentOp, withCounts = false)
      tr.span("exec", "exec") {
        if (collect) rows = Some(df.collect())
        else df.write.format("noop").mode("overwrite").save()
      }
    }
    rows
  }

  /** A call that writes under `roots`; the files it adds or changes are
    * counted (outside the op's time), and `batchBytes` is the parquet
    * size of the data it applies.
    */
  def write(name: String, pass: Int, roots: Seq[String], batchBytes: Long)(body: => Unit): Boolean = {
    val before = bookkeeping(Disk.files(roots))
    val ok = op(name, "write", pass)(tr.span("write", "sources")(body))
    bookkeeping {
      val after = Disk.files(roots)
      val added = after.filter { case (p, st) => !before.get(p).contains(st) }
      bytesWritten += added.values.map(_._1).sum
      filesWritten += added.size
    }
    if (ok) appliedBytes += batchBytes
    ok
  }

  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally bookkeepingNs += System.nanoTime() - t0
  }
}

object Disk {
  /** path → (size, mtime) of every regular file under `roots`. */
  def files(roots: Seq[String]): Map[String, (Long, Long)] = roots.flatMap { r =>
    val p = java.nio.file.Paths.get(r)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
          f.toString -> (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
        }.toList
      } finally st.close()
    }
  }.toMap

  def bytes(roots: Seq[String]): Long = files(roots).values.map(_._1).sum
}
