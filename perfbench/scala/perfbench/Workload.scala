package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the recorder, its seed and a private
  * scratch directory inside the run's work directory. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  def dir(sub: String): String = {
    val p = java.nio.file.Paths.get(work, sub)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** The seed's permutation of `xs` (deterministic across runs). */
  def shuffle[T](xs: Seq[T], salt: Long = 0L): Seq[T] =
    new scala.util.Random(seed * 1000003L + salt).shuffle(xs)

  /** Copy a directory tree (an engine root: its catalog holds only
    * root-relative paths, so a copy is an independent engine state). */
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    scala.util.Using.resource(java.nio.file.Files.walk(src)) { walk =>
      walk.forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
  }
}

/** One benchmark workload. [[Main]] calls `prepare` once and `setUp`
  * several times (set-up time is their median; the last one is kept), then
  * times `lifecycle` once, repeats `steady` in a closed loop for the run's
  * seconds, and calls `finish`. */
trait Workload {
  /** Generate this run's inputs from the seed. */
  def prepare(): Unit
  /** Fresh engine state for the run (cheap: inputs are generated once). */
  def setUp(i: Int): Unit
  /** The fixed, once-per-run operations. */
  def lifecycle(): Unit
  /** One repetition of the steady-state operation. */
  def steady(i: Int): Unit
  /** Fewest steady repetitions a run makes, however long they take. */
  def minSteady: Int
  /** End-of-run output checks. */
  def finish(): Unit
}
