package graft.platform

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet}

/** The JDBC plumbing every platform store shares: one connection per
  * call, create-table-if-absent, positional parameter binding, row
  * mapping and update-then-insert. A null `user`/`pass` connects with
  * the URL alone. The dialect (MySQL or not) comes from the URL and
  * picks the table-exists rule of [[IpStatusSql.isTableExists]].
  */
private[platform] final class Jdbc(url: String, user: String, pass: String) {
  import Jdbc._

  val mysql: Boolean = url.startsWith("jdbc:mysql")

  def apply[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, user, pass)
    try f(c) finally c.close()
  }

  /** Run a CREATE TABLE, tolerating only "table already exists". */
  def ensureTable(ddl: String): Unit = apply { c =>
    try { c.createStatement().execute(ddl); () }
    catch { case e: java.sql.SQLException if IpStatusSql.isTableExists(e, mysql) => () }
  }

  def update(sql: String, args: Any*): Unit = { apply(execute(_, sql, args: _*)); () }

  def query[A](sql: String, args: Any*)(row: ResultSet => A): List[A] =
    apply(select(_, sql, args: _*)(row))

  /** UPDATE; when it touched no row, INSERT. */
  def upsert(updateSql: String, updateArgs: Seq[Any],
      insertSql: String, insertArgs: Seq[Any]): Unit = apply { c =>
    if (execute(c, updateSql, updateArgs: _*) == 0)
      execute(c, insertSql, insertArgs: _*)
    ()
  }
}

private[platform] object Jdbc {

  /** Binds each argument with its type's setter: String (null included)
    * → setString, Int → setInt, Long → setLong, Short → setShort.
    */
  private def prepare(c: Connection, sql: String, args: Seq[Any]): PreparedStatement = {
    val ps = c.prepareStatement(sql)
    args.zipWithIndex.foreach {
      case (null, i) => ps.setString(i + 1, null)
      case (s: String, i) => ps.setString(i + 1, s)
      case (n: Int, i) => ps.setInt(i + 1, n)
      case (n: Long, i) => ps.setLong(i + 1, n)
      case (n: Short, i) => ps.setShort(i + 1, n)
    }
    ps
  }

  def execute(c: Connection, sql: String, args: Any*): Int =
    prepare(c, sql, args).executeUpdate()

  def select[A](c: Connection, sql: String, args: Any*)(row: ResultSet => A): List[A] = {
    val rs = prepare(c, sql, args).executeQuery()
    Iterator.continually(rs).takeWhile(_.next()).map(row).toList
  }
}
