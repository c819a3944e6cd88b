package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{Lake, Pipeline}
import graft.operators.Pipeline.MergeClause

/** The lake side of `query_mix`: one lake, a seeded sequence of DML
  * commits, and after every commit one read, in turn the whole table, a
  * stat-pruned id range, and a time travel to an earlier version. Every
  * timed phase runs one cycle of the plan, one call of each of the
  * engine's lake DML functions, spread evenly over the phase's units. Writes
  * and reads share the commit protocol and log replay, so work moved from
  * commits into reads shows as read latency or write amplification. It
  * runs in the session the preceding part of the workload set up.
  *
  * The plan (seed rows, each op's batch and parameters) comes from the
  * front end, which checks every read against a model of the same ops
  * built without the lake. Every op is planned to change the table, so
  * op `i` of the plan publishes version `prepare_commits + 1 + i`. */
final class LakeDml(planPath: String, work: Work) extends Workload {
  private val plan = JsonMethods.parse(new File(planPath))
  private implicit val formats: Formats = DefaultFormats
  private val ops = (plan \ "ops").extract[List[JObject]]
  private val warmOps = (plan \ "warm_ops").extract[Int]
  private val cycle = (plan \ "cycle").extract[Int]
  private val prepareCommits = (plan \ "prepare_commits").extract[Int]
  private val dir = (plan \ "lake").extract[String]
  private var next = 0
  private var phaseStart = 0
  private var phaseUnits = 1
  private var unitsDone = 0
  private var version = 0L
  private val seenFiles = mutable.Set.empty[String]
  private var setupDigest: Seq[Long] = Nil

  private def files(root: File): Iterator[File] =
    Option(root.listFiles).iterator.flatten.flatMap(f => if (f.isDirectory) files(f) else Iterator(f))

  /** Bytes of files that appeared under the lake since the last call. */
  private def newBytes(): Long = files(new File(dir)).filter(f => seenFiles.add(f.getPath)).map(_.length).sum

  /** The lake here has about 40x fewer files than a lake at the engine's
    * 512-entry columnar-checkpoint threshold, so the threshold is scaled
    * down with it (the engine's per-session override) and the timed
    * commits still write columnar checkpoints. */
  private def configure(s: SparkSession): Unit =
    s.conf.set("spark.graft.lake.checkpoint.parquetMinEntries", LakeDml.ColumnarMinEntries)

  /** The front end wrote the seed rows as plain partitioned parquet; the
    * engine adopts it (version 0) and records per-file id stats, once per
    * planned metadata commit (versions 1 to `prepare_commits`). These
    * place the timed commits across the engine's checkpoint interval, so
    * that the same timed commit writes a checkpoint in every run. */
  override def prepare(h: Harness): Unit = {
    configure(h.session)
    (1 to prepareCommits).foreach(_ => Lake.analyzeStats(h.session, dir, Seq("doc_id")))
    version = prepareCommits
    newBytes()
  }

  /** Opening the lake in the set-up's fresh session: log replay and one
    * full read. */
  def setup(h: Harness, unit: Int): Unit = {
    configure(h.session)
    setupDigest = LakeDml.digest(Lake.read(h.session, dir))
  }

  def warmUp(h: Harness): Unit = while (next < warmOps) commit(h)

  /** The whole cycle with its reads; a timed phase runs at least one unit. */
  def nominalUnitMs: Double = 20000

  override def startPhase(units: Int): Unit = {
    phaseStart = next
    phaseUnits = units
    unitsDone = 0
  }

  def unit(h: Harness): Unit = {
    unitsDone += 1
    val upTo = phaseStart + (cycle * unitsDone + phaseUnits - 1) / phaseUnits
    while (next < math.min(upTo, ops.size)) commit(h)
  }

  /** The plan's next op: one call of the lake DML function it names. */
  private def commit(h: Harness): Unit = {
    val o = ops(next)
    next += 1
    val fn = (o \ "fn").extract[String]
    val s = h.session
    def batch = s.read.parquet((o \ "batch").extract[String])
    val call: () => DataFrame = fn match {
      case "appendToLake" => () => Pipeline.appendToLake(s, dir, batch, statsCols = Seq("doc_id"))
      case "mergeIntoLakeSparse" => () => Pipeline.mergeIntoLakeSparse(s, dir, batch)
      case "mergeIntoLake" => () => Pipeline.mergeIntoLake(s, dir, batch, retainHistory = true)
      case "mergeIntoLakeGeneral" => () => Pipeline.mergeIntoLakeGeneral(s, dir, batch,
        "doc_id", col("_s_doc_id"),
        matched = Seq(
          MergeClause(Some(col("_s_del")), delete = true, Map.empty),
          MergeClause(None, delete = false, Map("n_chars" -> (col("_t_n_chars") + col("_s_delta"))))),
        notMatched = Seq(MergeClause(None, delete = false,
          Seq("doc_id", "split", "shard_id", "n_chars", "text").map(c => c -> col("_s_" + c)).toMap)),
        notMatchedBySource = Nil)
      case "deleteFromLakeSparse" => () => Pipeline.deleteFromLakeSparse(s, dir, batch, "doc_id")
      case "deleteFromLake" => () => Pipeline.deleteFromLake(s, dir, batch, "doc_id", retainHistory = true)
      case "updateLakeSparseWhere" => () => Pipeline.updateLakeSparseWhere(s, dir,
        col("doc_id").between((o \ "lo").extract[Long], (o \ "hi").extract[Long]),
        Map("n_chars" -> (col("n_chars") + lit((o \ "add").extract[Long]))))
      case "compactLake" => () => Pipeline.compactLake(s, dir, maxFilesPerPartition = 2, retainHistory = true)
      case other => () => throw new IllegalArgumentException(s"no lake DML function $other")
    }
    val (rec, _) = h.op("commit", fn)(call())(_ => ())
    version += 1
    rec.extra ++= Seq("op" -> JInt(next - 1), "version" -> JLong(version),
      "checkpoint" -> JString(checkpointAt(version)), "new_bytes" -> JLong(newBytes()))
    (next - 1) % 3 match {
      case 0 => read(h, "Lake.read", "full", version)(Lake.read(s, dir))
      case 1 =>
        val Seq(lo, hi) = (o \ "range").extract[Seq[Long]]
        read(h, "Lake.read", "range", version)(Lake.read(s, dir).filter(col("doc_id").between(lo, hi)))
      case _ =>
        val back = math.max(1L, version - (o \ "back").extract[Long])
        read(h, "Lake.readVersion", "time_travel", back)(Lake.readVersion(s, dir, back))
    }
  }

  /** A read materializes an aggregate over every column, which the front
    * end recomputes from its model of the same version. */
  private def read(h: Harness, fn: String, shape: String, v: Long)(df: => DataFrame): Unit = {
    val (rec, d) = h.op("read", fn)(df)(LakeDml.digest)
    rec.extra ++= Seq("shape" -> JString(shape), "version" -> JLong(v))
    d.foreach(x => rec.extra("digest") = JArray(x.map(JLong(_)).toList))
  }

  /** "columnar", "text" or "none": the checkpoint this version wrote. */
  private def checkpointAt(v: Long): String = {
    val names = Option(new File(dir, Lake.LogDirName).list).map(_.toSeq).getOrElse(Nil)
    val stem = f"v$v%020d.checkpoint"
    if (!names.contains(stem)) "none"
    else if (names.exists(n => n.startsWith(stem + "-") && n.endsWith(".pqentries"))) "columnar"
    else "text"
  }

  /** The final table for the checks; traced runs also vacuum the lake and
    * measure its directory. */
  def finish(h: Harness): List[(String, JValue)] = {
    val s = h.session
    val finalDigest = LakeDml.digest(Lake.read(s, dir))
    val state = List(
      "final_digest" -> JArray(finalDigest.map(JLong(_)).toList),
      "setup_digest" -> JArray(setupDigest.map(JLong(_)).toList),
      "ops_run" -> JInt(next))
    val layout = if (!h.traceRun) Nil else {
      val t0 = Clock.nowMs
      Lake.vacuum(s, dir)
      val vacuumMs = Clock.nowMs - t0
      val all = files(new File(dir)).map(_.length).toSeq
      val log = files(new File(dir, Lake.LogDirName)).map(_.length).toSeq
      // the live table written once as plain partitioned parquet: the
      // denominator of space amplification
      val plain = work.fresh("plain")
      Lake.read(s, dir).repartition(col("split"), col("shard_id"))
        .write.partitionBy("split", "shard_id").parquet(plain)
      val plainBytes = files(new File(plain)).filter(_.getName.endsWith(".parquet")).map(_.length).sum
      work.remove(plain)
      List(
        "lake_dir" -> JObject(List(
          "files" -> JInt(all.size), "bytes" -> JLong(all.sum),
          "log_bytes" -> JLong(log.sum), "plain_bytes" -> JLong(plainBytes))),
        "vacuum_ms" -> JDouble(vacuumMs))
    }
    work.remove(dir)
    state ++ layout
  }
}

object LakeDml {
  val ColumnarMinEntries = 12

  def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars")),
      sum(col("doc_id") * col("n_chars")), sum(length(col("text")).cast("long"))).collect()(0)
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }
}
