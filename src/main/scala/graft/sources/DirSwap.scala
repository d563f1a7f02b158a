package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one way to replace child directories of a parent (a
  * table's `file_date=` days, a layout table's directory), over Hadoop
  * [[FileSystem]] and recoverable at every step:
  *  1. the replacement children are written under a hidden stage
  *     directory named uniquely per write (`.`-prefixed, so parquet
  *     listing skips it);
  *  2. the stage is sealed with a `_SUCCESS` marker (the committer's);
  *  3. per child: rename live → `.X_old`, staged → live, drop `.X_old`;
  *     a rename only ever targets an absent path;
  *  4. [[heal]] runs before every write: a sealed stage rolls forward
  *     into a missing live child, else `.X_old` rolls back; once every
  *     live child is present, stages and old copies are leftovers.
  * A crash therefore leaves each child old or new, never missing, and
  * the replayed write converges. One writer per parent, or per child
  * for writers scoped by `only` (one layout table among many under one
  * parent). On object stores a rename is a copy: slower, same safety.
  */
object DirSwap {

  private val Seal = "_SUCCESS"

  private def stagePrefix(only: Option[String]): String =
    "." + only.fold("")(_ + ".") + "stage-"

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(to) || !fs.rename(from, to))
      throw new java.io.IOException(s"swap rename failed: $from -> $to")

  /** The children a stage replaces: its non-hidden entries. */
  private def children(fs: FileSystem, stage: Path): Seq[String] =
    fs.listStatus(stage).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  /** Finish or undo an interrupted swap under `parent` (only the child
    * `only` and its stages, when given). Returns the children rolled
    * forward from a sealed stage.
    */
  def heal(spark: SparkSession, parent: String,
      only: Option[String] = None): Seq[String] = {
    val root = new Path(parent)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    val stages = entries.filter(_.getName.startsWith(stagePrefix(only)))
    val olds = entries.filter { p =>
      val n = p.getName
      n.startsWith(".") && n.endsWith("_old") && only.forall(c => n == s".${c}_old")
    }
    val forward = stages.filter(s => fs.exists(new Path(s, Seal))).flatMap { s =>
      children(fs, s).filterNot(c => fs.exists(new Path(root, c))).map { c =>
        move(fs, new Path(s, c), new Path(root, c)); c
      }
    }
    olds.foreach { o =>
      val live = new Path(root, o.getName.drop(1).dropRight("_old".length))
      if (!fs.exists(live)) move(fs, o, live)
    }
    (stages ++ olds).filter(fs.exists).foreach(fs.delete(_, true))
    forward
  }

  /** Heal `parent`, let `write` fill a fresh stage with replacement
    * children, seal and swap them in, then refresh Spark's listing of
    * the target (`parent`, or `parent/only`) and drop its memoized
    * derivations. Returns the children swapped; a write that leaves no
    * stage swaps nothing.
    */
  def replace(spark: SparkSession, parent: String, only: Option[String] = None)(
      write: Path => Unit): Seq[String] = {
    val root = new Path(parent)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(spark, parent, only)
    val stage = new Path(root, stagePrefix(only) + java.util.UUID.randomUUID())
    write(stage)
    if (!fs.exists(stage)) return Nil
    if (!fs.exists(new Path(stage, Seal))) fs.create(new Path(stage, Seal), false).close()
    val swapped = children(fs, stage)
    swapped.foreach { c =>
      val (live, old) = (new Path(root, c), new Path(root, s".${c}_old"))
      val replaced = fs.exists(live)
      if (replaced) move(fs, live, old)
      move(fs, new Path(stage, c), live)
      if (replaced) fs.delete(old, true)
    }
    fs.delete(stage, true)
    val target = only.fold(parent)(c => new Path(root, c).toString)
    spark.catalog.refreshByPath(target)
    graft.Memo.invalidate(spark, target)
    swapped
  }
}
