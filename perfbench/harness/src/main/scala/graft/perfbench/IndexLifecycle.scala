package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{Bm25Index, IndexVersions, PhraseIndex, PqIndex, Snapshots}
import graft.sources.Snapshots.StatsPred
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Writes beside reads on the `sources` layer: a document snapshot and
  * three indexes, driven by the seeded plan `<data>/lifecycle/plan.tsv`
  * (one `round<TAB>verb<TAB>args…` line per call). Round 0 builds every
  * artifact; each later round applies the same mix of writes and reads,
  * and every second round compacts. Pass k runs round k.
  */
object IndexLifecycle extends Workload {
  var root = ""
  private def snap = s"$root/snap"
  private def bm25 = s"$root/bm25"
  private def phrase = s"$root/phrase"
  private def pq = s"$root/pq"
  private def roots = Seq(snap, bm25, phrase, pq)

  final case class ReadResult(seq: Int, op: Int, round: Int, name: String, version: Int,
                              from: Int, arg: String, rows: Array[Row], schema: StructType)
  private val results = mutable.ArrayBuffer.empty[ReadResult]
  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  /** round → the ids live in the indexes when that round searched them */
  private val liveAt = mutable.LinkedHashMap.empty[Int, (Seq[Long], Seq[Long])]
  private var lastRound = -1

  private def plan(dir: String): Map[Int, Seq[Array[String]]] = {
    val src = scala.io.Source.fromFile(s"$dir/lifecycle/plan.tsv")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toSeq.groupBy(_(0).toInt)
    finally src.close()
  }

  def timed(r: Runner, seed: Long, warmPasses: Int): Int = {
    val rounds = plan(r.dir)
    loop(warmPasses) { pass =>
      if (pass == 0) loadTables(r)
      round(r, rounds, pass, pass)
    }
  }

  private def ids(csv: String): Seq[Long] = csv.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)

  private def round(r: Runner, rounds: Map[Int, Seq[Array[String]]], k: Int, pass: Int): Unit = {
    val s = r.s
    val lines = rounds.getOrElse(k, throw new IllegalStateException(s"plan has no round $k"))
    // the client's own lookup of where this round's change feed starts:
    // a listing of the snapshot's manifests, in the makespan
    val startVersion = if (k == 0) 0 else Snapshots.latestVersion(s, snap)
    def file(name: String) = s"${r.dir}/lifecycle/$name"
    def size(name: String) = new java.io.File(file(name)).length
    def batch(name: String): DataFrame = s.read.parquet(file(name))
    def vecs(name: String): DataFrame = graft.operators.Similarity.normed(s, r.dir)
      .join(batch(name).select("vec_id"), Seq("vec_id"), "left_semi")
    def fileIds(name: String, c: String): Seq[Long] =
      r.bookkeeping(batch(name).select(c).collect().map(_.getLong(0)).toSeq)
    def w(name: String, root: String, bytes: Long = 0L)(body: => Unit): Boolean =
      r.write(name, pass, Seq(root), bytes)(body)
    // the latest version is looked up inside the read (a listing of the
    // artifact's manifests), as part of its construct span
    def read(name: String, arg: String = "", from: Int = 0)(latest: => Int, df: Int => DataFrame): Unit =
      r.read(name, pass, "sources", collect = true) {
        val v = latest
        val frame = df(v)
        r.bookkeeping(results += ReadResult(results.size, r.currentOp, k, name, v, from, arg,
          Array.empty, frame.schema))
        frame
      }.foreach(rows => results(results.size - 1) = results.last.copy(rows = rows))
    lines.foreach { l =>
      val verb = l(1)
      val a = l.drop(2)
      verb match {
        case "create" =>
          w("snap_create", snap, size(a(0)))(Snapshots.create(s, snap, batch(a(0))))
        case "bm25_build" =>
          if (w("bm25_build", bm25, size(a(0))) {
            Bm25Index.materializeWhere(s, r.dir, col("doc_id") < a(1).toLong, bm25)
            Bm25Index.commitVersion(s, bm25)
          }) liveDocs ++= fileIds(a(0), "doc_id")
        case "phrase_build" =>
          w("phrase_build", phrase, size(a(0))) {
            PhraseIndex.materializeWhere(s, r.dir, col("doc_id") < a(1).toLong, phrase)
            PhraseIndex.commitVersion(s, phrase)
          }
        case "pq_build" =>
          if (w("pq_build", pq, size(a(0))) {
            PqIndex.materializeWhere(s, r.dir, col("vec_id") < a(1).toLong, pq)
            PqIndex.commitVersion(s, pq)
          }) liveVecs ++= fileIds(a(0), "vec_id")
        case "append" => w("snap_append", snap, size(a(0)))(Snapshots.append(s, snap, batch(a(0))))
        case "merge" =>
          w("snap_merge", snap, size(a(0)))(Snapshots.merge(s, snap, batch(a(0)), Seq("doc_id"), "rev"))
        case "delete" =>
          w("snap_delete", snap)(Snapshots.delete(s, snap, Seq(StatsPred.InSet("doc_id", ids(a(0))))))
        case "update" =>
          w("snap_update", snap)(Snapshots.update(s, snap,
            Seq(StatsPred.InSet("doc_id", ids(a(1)))), Map("source" -> lit(a(0)))))
        case "bm25_append" =>
          if (w("bm25_append", bm25, size(a(0))) {
            Bm25Index.append(s, bm25, batch(a(0))); Bm25Index.commitVersion(s, bm25)
          }) liveDocs ++= fileIds(a(0), "doc_id")
        case "bm25_delete" =>
          if (w("bm25_delete", bm25) {
            Bm25Index.delete(s, bm25, ids(a(0))); Bm25Index.commitVersion(s, bm25)
          }) liveDocs --= ids(a(0))
        case "phrase_append" =>
          w("phrase_append", phrase, size(a(0))) {
            PhraseIndex.append(s, phrase, batch(a(0))); PhraseIndex.commitVersion(s, phrase)
          }
        case "phrase_delete" =>
          w("phrase_delete", phrase) {
            PhraseIndex.delete(s, phrase, ids(a(0))); PhraseIndex.commitVersion(s, phrase)
          }
        case "pq_append" =>
          if (w("pq_append", pq, size(a(0))) {
            PqIndex.append(s, pq, vecs(a(0))); PqIndex.commitVersion(s, pq)
          }) liveVecs ++= fileIds(a(0), "vec_id")
        case "pq_delete" =>
          if (w("pq_delete", pq) {
            PqIndex.delete(s, pq, ids(a(0))); PqIndex.commitVersion(s, pq)
          }) liveVecs --= ids(a(0))
        case "compact" =>
          w("snap_compact", snap)(Snapshots.compact(s, snap))
          w("bm25_compact", bm25) { Bm25Index.compact(s, bm25); Bm25Index.commitVersion(s, bm25) }
          w("phrase_compact", phrase) { PhraseIndex.compact(s, phrase); PhraseIndex.commitVersion(s, phrase) }
          w("pq_compact", pq) { PqIndex.compact(s, pq); PqIndex.commitVersion(s, pq) }
        case "read_where" =>
          read("snap_read_where", a(0))(Snapshots.latestVersion(s, snap),
            v => Snapshots.readWhere(s, snap, v, Seq(StatsPred.GtEq("doc_id", a(0).toLong))))
        case "change_feed" =>
          read("snap_change_feed", from = startVersion)(Snapshots.latestVersion(s, snap),
            v => Snapshots.changeFeed(s, snap, startVersion, v))
        case "bm25_search" =>
          read("bm25_search")(IndexVersions.latest(s, bm25), v => Bm25Index.searchAt(s, bm25, v))
        case "phrase_search" =>
          read("phrase_search")(IndexVersions.latest(s, phrase),
            v => PhraseIndex.searchAt(s, phrase, v))
        case "pq_search" =>
          read("pq_search")(IndexVersions.latest(s, pq), v => PqIndex.searchAt(s, r.dir, pq, v))
        case other => throw new IllegalArgumentException(s"unknown plan verb $other")
      }
      if (verb.endsWith("_search")) liveAt(k) = (liveDocs.toList, liveVecs.toList)
    }
    lastRound = k
  }

  def outputs(r: Runner, out: String): Map[String, Any] = {
    val s = r.s
    def save(rows: Array[Row], schema: StructType, path: String): Unit =
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)
    Workloads.inParallel(results.toSeq)(x => save(x.rows, x.schema, s"$out/lifecycle/${x.seq}_${x.name}"))
    val manifest = results.toSeq.map { x =>
      val path = s"$out/lifecycle/${x.seq}_${x.name}"
      Map("seq" -> x.seq, "op" -> x.op, "round" -> x.round, "name" -> x.name, "version" -> x.version,
        "from" -> x.from, "arg" -> x.arg, "rows" -> x.rows.length, "path" -> path)
    }
    // each searched round's PQ index rebuilt from scratch over that
    // round's live ids (the BM25 and phrase searches are checked against
    // their DuckDB oracles over the same live documents)
    val rebuilt = liveAt.toSeq.map { case (k, (_, vecs)) =>
      val root = s"$out/rebuild/r$k/pq"
      PqIndex.materializeWhere(s, r.dir, col("vec_id").isin(vecs: _*), root)
      val p = s"$out/lifecycle/rebuild_r${k}_pq_search"
      PqIndex.searchRoot(s, r.dir, root).coalesce(1).write.mode("overwrite").parquet(p)
      k.toString -> p
    }.toMap
    // the live rows written fresh: the snapshot's latest version as one
    // file, each index rebuilt from scratch over its live ids
    val live = Disk.bytes(roots)
    val fresh = s"$out/fresh"
    Snapshots.read(s, snap, Snapshots.latestVersion(s, snap)).coalesce(1)
      .write.mode("overwrite").parquet(s"$fresh/snap")
    val docPred = col("doc_id").isin(liveDocs.toSeq: _*)
    Bm25Index.materializeWhere(s, r.dir, docPred, s"$fresh/bm25")
    PhraseIndex.materializeWhere(s, r.dir, docPred, s"$fresh/phrase")
    PqIndex.materializeWhere(s, r.dir, col("vec_id").isin(liveVecs.toSeq: _*), s"$fresh/pq")
    Map("fresh_bytes" -> Disk.bytes(Seq(fresh)), "live_bytes" -> live, "last_round" -> lastRound,
      "reads" -> manifest, "rebuilt_pq" -> rebuilt,
      "live_docs" -> liveAt.map { case (k, (d, _)) => k.toString -> d },
      "oracle_sql" -> Map("bm25_search" -> graft.operators.Retrieval.bm25RankOracleSql,
        "phrase_search" -> graft.operators.Retrieval.phraseSearchOracleSql))
  }
}
