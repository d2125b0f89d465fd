package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The one reader of the engine's `spark.graft.*` session keys (README
  * lists them with their defaults). An unset key yields its default; a
  * malformed value fails with an IllegalArgumentException naming the
  * key and the value, never a bare NumberFormatException. */
private[graft] object GraftConf {

  /** `key` of `spark`'s session conf as a Long. */
  def long(spark: SparkSession, key: String, default: Long): Long =
    parse(spark.conf.getOption(key), key, default, "a whole number")(_.toLong)

  /** `key` of the active session's conf as a Boolean (read where a
    * planner runs, with no session handle at hand). */
  def boolean(key: String, default: Boolean): Boolean =
    parse(Option(SQLConf.get.getConfString(key, null)), key, default,
      "true or false")(_.toBoolean)

  private def parse[T](raw: Option[String], key: String, default: T,
      expected: String)(f: String => T): T =
    raw.fold(default) { v =>
      try f(v)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$key must be $expected, got '$v'", e)
      }
    }
}
