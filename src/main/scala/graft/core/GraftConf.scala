package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The one reader of the engine's `spark.graft.*` session keys (README
  * lists them with their defaults) and of the connectors' numeric read
  * options. An unset key yields its default; a malformed value fails
  * with an IllegalArgumentException naming the key or option and the
  * value, never a bare NumberFormatException. */
private[graft] object GraftConf {

  /** `key` of `spark`'s session conf as a Long. */
  def long(spark: SparkSession, key: String, default: Long): Long =
    parse(spark.conf.getOption(key), key, default, "a whole number")(_.toLong)

  /** `key` of the active session's conf as a Boolean (read where a
    * planner runs, with no session handle at hand). */
  def boolean(key: String, default: Boolean): Boolean =
    parse(Option(SQLConf.get.getConfString(key, null)), key, default,
      "true or false")(_.toBoolean)

  /** Read option `name` of `options` (a connector's case-insensitive
    * options) as a Long; None when absent. */
  def longOption(options: java.util.Map[String, String],
      name: String): Option[Long] =
    longOption(name, Option(options.get(name)))

  /** A raw read-option value as a Long, failing with the option's name. */
  def longOption(name: String, raw: Option[String]): Option[Long] =
    raw.map(v => parse(Some(v), name, 0L, "a whole number")(_.toLong))

  /** Read option `name` of `options` as an Int; None when absent. */
  def intOption(options: java.util.Map[String, String],
      name: String): Option[Int] =
    Option(options.get(name)).map(v =>
      parse(Some(v), name, 0, "a whole number")(_.toInt))

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
