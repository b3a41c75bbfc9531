package graft.streaming

/** Minimal INI config surface — parity with the reference's
  * `configparser` usage (`spark_streaming.py:16-24`: `[database]`
  * database/user/password/host; `spark_streaming.py:38-42` + producer:
  * `[kafka]` host/port/topic), so a deployer carries one config file
  * across both engines. `StreamMain` reads its endpoints from it.
  *
  * A section is optional, but a section that is present must carry every
  * key its endpoint reads: [[jdbc]], [[kafkaBootstrap]], [[kafkaTopic]]
  * and [[smtp]] throw an `IllegalArgumentException` naming the missing
  * key rather than fall back to a default endpoint.
  *
  * Matches the configparser behaviors the reference relies on:
  * `[section]` headers, `key = value` AND `key: value` delimiters,
  * full-line `;`/`#` comments, whitespace trimming, keys lower-cased on
  * read (values keep their case), later duplicate keys win. No
  * interpolation — the reference doesn't use it.
  *
  * DELIBERATE divergences from full configparser (affect only files the
  * reference's own config never exhibits): section names are
  * lower-cased here, where configparser preserves their case (a
  * `[Database]` header reads as `database` on this side but only as
  * `Database` on the reference); duplicate `[section]` headers merge
  * and duplicate keys take the LAST value, where configparser's default
  * strict=True raises DuplicateSection/DuplicateOptionError. A config
  * carried across both engines must therefore use lower-case unique
  * section headers and unique keys — which the reference's shipped
  * `config/` files do.
  */
final case class IniConfig(sections: Map[String, Map[String, String]]) {

  /** All keys of a section (empty map when absent — configparser would
    * raise; callers here decide their own missing-config policy). */
  def section(name: String): Map[String, String] =
    sections.getOrElse(name.toLowerCase, Map.empty)

  def get(sectionName: String, key: String): Option[String] =
    section(sectionName).get(key.toLowerCase)

  def getOrElse(sectionName: String, key: String, default: String): String =
    get(sectionName, key).getOrElse(default)

  /** The value of `key` in a section the caller has found present. */
  private def required(sectionName: String, key: String): String =
    get(sectionName, key).getOrElse(
      throw new IllegalArgumentException(s"config section [$sectionName] has no '$key' key"))

  /** `read` when the config has the section, None when it has not. */
  private def ifSection[A](sectionName: String)(read: => A): Option[A] =
    if (sections.contains(sectionName.toLowerCase)) Some(read) else None

  /** The reference's Postgres coordinates as a Spark JDBC (url, props)
    * pair — what `spark_streaming.py:116-124` assembles inline from
    * `[database]` database/user/password/host; `port` is optional (5432). */
  def jdbc: Option[(String, java.util.Properties)] =
    ifSection("database") {
      val (host, db) = (required("database", "host"), required("database", "database"))
      val props = new java.util.Properties()
      props.setProperty("user", required("database", "user"))
      props.setProperty("password", required("database", "password"))
      (s"jdbc:postgresql://$host:${getOrElse("database", "port", "5432")}/$db", props)
    }

  /** `host:port` bootstrap string, as `spark_streaming.py:42` builds. */
  def kafkaBootstrap: Option[String] =
    ifSection("kafka")(s"${required("kafka", "host")}:${required("kafka", "port")}")

  def kafkaTopic: Option[String] = ifSection("kafka")(required("kafka", "topic"))

  /** The alert mail endpoint as (host, port, from, to), from `[email]`
    * host/port/from/to. The reference's mail settings are not recorded
    * (SURVEY.md K4), so the section and key names are this rebuild's own.
    */
  def smtp: Option[(String, Int, String, String)] =
    ifSection("email") {
      val port = required("email", "port")
      (required("email", "host"),
        port.toIntOption.getOrElse(
          throw new IllegalArgumentException(s"config section [email] has a non-numeric port '$port'")),
        required("email", "from"),
        required("email", "to"))
    }
}

object IniConfig {

  def parse(lines: IterableOnce[String]): IniConfig = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashMap[String, String]]
    var current: Option[String] = None
    lines.iterator.foreach { raw =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith(";") || line.startsWith("#")) ()
      else if (line.startsWith("[") && line.endsWith("]")) {
        val name = line.substring(1, line.length - 1).trim.toLowerCase
        current = Some(name)
        acc.getOrElseUpdate(name, scala.collection.mutable.LinkedHashMap.empty)
      } else {
        // configparser accepts '=' or ':' — first delimiter wins
        val eq = line.indexOf('='); val co = line.indexOf(':')
        val d = (eq, co) match {
          case (-1, c) => c
          case (e, -1) => e
          case (e, c) => math.min(e, c)
        }
        require(d > 0, s"INI line without delimiter: '$line'")
        val sec = current.getOrElse(
          throw new IllegalArgumentException(s"INI key before any [section]: '$line'"))
        acc(sec).update(line.take(d).trim.toLowerCase, line.drop(d + 1).trim)
      }
    }
    IniConfig(acc.view.mapValues(_.toMap).toMap)
  }

  def load(path: String): IniConfig = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.getLines()) finally src.close()
  }
}
