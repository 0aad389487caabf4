package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the engine's build function, run on a session
  * and an SF fixture directory, and the DuckDB SQL its result must reproduce
  * (same column names — the driver sorts columns by name before
  * hashing). */
final case class Q(name: String, build: (SparkSession, String) => DataFrame, oracle: String)

object Q {

  /** The families as one registry. A name declared twice is an error
    * naming every duplicate: a map merge would silently keep the last. */
  def merge(families: Seq[Q]*): Seq[Q] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
