package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The optimistic-commit retry path, driven on purpose: the
  * [[SnapshotLog.onBeforeCommit]] seam commits a racing METADATA-ONLY
  * version (a property write) right before the verb's own commit
  * attempt, so that attempt loses the create-exclusive race.
  *
  *  - Racing on EVERY attempt exhausts the loop: the verb throws its
  *    verb-named error after exactly `maxRetries` commit attempts of
  *    its own, and the table reads the racer's last state.
  *  - Racing ONCE makes the verb re-read the winner's state and commit
  *    on its second attempt, on top of the racer's version. */
class CommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private val maxRetries = 3

  private def mk(prefix: String): String = {
    val base = Files.createTempDirectory(prefix).toString + "/t"
    SnapshotLog.appendBatch(spark, base,
      (1L to 30L).map(i => (i, i * 1.0, s"d${i % 3}")).toDF("id", "value", "day"),
      "day", 1L)
    base
  }

  private def manifest(base: String): SnapshotLog.Manifest = {
    val bp = new Path(base)
    SnapshotLog.readManifest(
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration), bp).get
  }

  private def valueOf(base: String, id: Long): Option[Double] =
    SnapshotLog.read(spark, base).get.filter(col("id") === id)
      .select("value").collect().headOption.map(_.getDouble(0))

  /** A verb under test: the op its commit carries, the error's leading
    * words, the call, and whether its effect is visible. */
  private case class Verb(
      op: String, lost: String, run: String => Unit, applied: String => Boolean)

  private val verbs = Seq(
    Verb("DELETE", "deleteWhere lost 3 commit races",
      b => SnapshotLog.deleteWhere(spark, b, col("id") === 1L, "day",
        maxRetries = maxRetries),
      b => valueOf(b, 1L).isEmpty),
    Verb("UPDATE", "updateWhere lost 3 commit races",
      b => SnapshotLog.updateWhere(spark, b, col("id") === 2L,
        Map("value" -> lit(-1.0)), "day", maxRetries = maxRetries),
      b => valueOf(b, 2L).contains(-1.0)),
    Verb("REPLACE_WHERE", "replaceWhere lost 3 commit races",
      b => SnapshotLog.replaceWhere(spark, b,
        Seq((100L, 5.0, "d1")).toDF("id", "value", "day"),
        col("day") === "d1", "day", maxRetries = maxRetries),
      b => SnapshotLog.read(spark, b).get.filter(col("day") === "d1")
        .select("id").collect().map(_.getLong(0)).toSeq == Seq(100L)),
    Verb("UPSERT", "SnapshotLog commit lost 3 races",
      b => SnapshotLog.upsertBatch(spark, b,
        Seq((3L, 9.0, "d0")).toDF("id", "value", "day"), "id", "value", "day",
        2L, maxRetries),
      b => valueOf(b, 3L).contains(9.0)),
    Verb("SET_TBLPROPERTIES", "SET TBLPROPERTIES lost 3 commit races",
      b => SnapshotLog.setProperties(spark, b, Map("k" -> "v"), maxRetries),
      b => manifest(b).props.get("k").contains("v")))

  /** Run `v` with a racer committing before up to `races` of its commit
    * attempts; returns the verb's own commit attempts and its outcome. */
  private def raced(base: String, v: Verb, races: Int): (Long, Either[Throwable, Unit]) = {
    var n = 0
    var racing = false
    var racerAttempts = 0L
    SnapshotLog.onBeforeCommit = op => {
      // the racer's own commit passes the seam too — never re-enter
      if (op == v.op && !racing && n < races) {
        racing = true
        val a0 = SnapshotLog.commitAttempts.get()
        try {
          n += 1
          SnapshotLog.setProperties(spark, base, Map("race.n" -> n.toString))
        } finally {
          racerAttempts += SnapshotLog.commitAttempts.get() - a0
          racing = false
        }
      }
    }
    val a0 = SnapshotLog.commitAttempts.get()
    val out =
      try Right(v.run(base))
      catch { case e: IllegalStateException => Left(e) }
      finally SnapshotLog.onBeforeCommit = _ => ()
    (SnapshotLog.commitAttempts.get() - a0 - racerAttempts, out)
  }

  verbs.foreach { v =>
    test(s"${v.op}: a race on every attempt exhausts after exactly maxRetries") {
      val base = mk("graft_cl_x")
      val (attempts, out) = raced(base, v, races = Int.MaxValue)
      val err = out.swap.getOrElse(fail(s"${v.op} committed through every race"))
      assert(err.getMessage.startsWith(s"${v.lost} on $base"), err.getMessage)
      assert(attempts == maxRetries, s"${v.op} made $attempts commit attempts")
      val m = manifest(base)
      assert(m.op.contains("SET_TBLPROPERTIES"), "the racer's version is current")
      assert(m.props.get("race.n").contains(maxRetries.toString))
      assert(!v.applied(base), s"${v.op} must not have landed")
      assert(SnapshotLog.read(spark, base).get.count() == 30)
    }

    test(s"${v.op}: a single lost race commits on the second attempt") {
      val base = mk("graft_cl_1")
      val v0 = manifest(base).version
      val (attempts, out) = raced(base, v, races = 1)
      assert(out.isRight, s"${v.op} failed: $out")
      assert(attempts == 2, s"${v.op} made $attempts commit attempts")
      val m = manifest(base)
      assert(m.version == v0 + 2, "the racer's version, then the verb's")
      assert(m.op.contains(v.op))
      assert(m.props.get("race.n").contains("1"), "the racer's write survives")
      assert(v.applied(base), s"${v.op} must have landed")
    }
  }
}
