package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a key's result is checked. */
sealed trait Check

/** DuckDB SQL over the same parquet tables that returns exactly the
  * key's rows; Verify writes it to oracle_sql.json. */
final case class Oracle(sql: String) extends Check

/** No SQL can state the key's exact rows; `reason` says why, and the
  * suite checks the key instead. */
final case class NoOracle(reason: String) extends Check

/** One `SparkEntry` key, declared once by its operator module: the
  * function that builds its frame over a corpus dir, its check and,
  * for a key whose bench samples are known to spread widely, the note
  * Bench carries into bench_full.json. A note is added only after a
  * measured diagnosis (see SURVEY §8 for the evidence). */
final case class Key(name: String, run: Key.Run, check: Check,
    varianceNote: Option[String] = None)

object Key {
  type Run = (SparkSession, String) => DataFrame

  /** Keys by name. A name declared twice throws, naming it: a map
    * union would let one declaration silently hide the other. */
  def byName(keys: Seq[Key]): Map[String, Key] = {
    val twice = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    if (twice.nonEmpty)
      throw new IllegalArgumentException(
        s"key declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    keys.map(k => k.name -> k).toMap
  }

  def queries(keys: Seq[Key]): Map[String, Run] =
    byName(keys).map { case (n, k) => n -> k.run }
}
