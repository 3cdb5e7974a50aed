package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Ownership of the checkpoints an operator creates inside a [[Pipeline]]
  * stage. Operators checkpoint through [[local]]; while a stage body runs
  * on this thread, each such checkpoint is recorded for that stage, and
  * the stage runner unpersists them once the stage's own output
  * checkpoint is materialized (nothing reads them after that: the output
  * is a fresh checkpoint leaf). Outside a stage [[local]] is plain
  * `localCheckpoint` and records nothing, so the caller's frames and a
  * stage's input are never owned. */
private[graft] object StageCheckpoints {
  private val scope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  def local(df: DataFrame, eager: Boolean,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val c = df.localCheckpoint(eager, level)
    val owner = scope.get
    if (owner != null) owner += c
    c
  }

  /** Runs `body` as a stage body: its value and the checkpoints it made. */
  def owned[T](body: => T): (T, Seq[DataFrame]) = {
    val outer = scope.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scope.set(mine)
    try (body, mine.toSeq) finally scope.set(outer)
  }
}
