package graft.platform

/** System configuration store — the reference's `system_config` table +
  * `SystemConfigService` (`flink_web.sql:143-156`,
  * `ConfigApiController.java:34-75`): a key-value map holding platform
  * settings, notably the alarm webhook URLs (`SysConfigEnum.java:47-53`
  * — the reference's key spellings `dingding_alart_url` /
  * `callback_alart_url` are kept verbatim for config-file parity).
  * Handlers read it at fire time, so edits apply to the next alarm
  * without restarts, like the reference's per-send config lookup.
  */
object SystemConfig {
  val DingDingAlarmUrl = "dingding_alart_url"
  val CallbackAlarmUrl = "callback_alart_url"
}

trait SystemConfig {
  def get(key: String): Option[String]
  def upsert(key: String, value: String): Unit
  def delete(key: String): Unit
  def all(): Seq[(String, String)]
}

final class InMemorySystemConfig extends SystemConfig {
  private val m = scala.collection.concurrent.TrieMap[String, String]()
  def get(key: String): Option[String] = m.get(key)
  def upsert(key: String, value: String): Unit = m(key) = value
  def delete(key: String): Unit = { m.remove(key); () }
  def all(): Seq[(String, String)] = m.toSeq.sortBy(_._1)
}

/** JDBC-backed store over the platform's shared [[Jdbc]] helper. */
final class JdbcSystemConfig(url: String, user: String = "",
    pass: String = "") extends SystemConfig {

  private val db = new Jdbc(url, user, pass)

  db.ensureTable(
    """CREATE TABLE system_config (
      |  cfg_key VARCHAR(128) PRIMARY KEY,
      |  cfg_val VARCHAR(1024))""".stripMargin)

  def get(key: String): Option[String] =
    db.query("SELECT cfg_val FROM system_config WHERE cfg_key = ?", key)(
      _.getString(1)).headOption.flatMap(Option(_))

  def upsert(key: String, value: String): Unit =
    db.upsert("UPDATE system_config SET cfg_val = ? WHERE cfg_key = ?",
      Seq(value, key),
      "INSERT INTO system_config (cfg_val, cfg_key) VALUES (?, ?)",
      Seq(value, key))

  def delete(key: String): Unit =
    db.update("DELETE FROM system_config WHERE cfg_key = ?", key)

  def all(): Seq[(String, String)] =
    db.query("SELECT cfg_key, cfg_val FROM system_config ORDER BY cfg_key")(
      r => r.getString(1) -> r.getString(2))
}
