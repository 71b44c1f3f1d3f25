package graft.platform

import graft.JsonUtil

/** User management + cookie-session auth — the reference's login/user
  * surface (`UserServiceImpl.java:35-175`, `UserApiController.java:30-95`,
  * `flink_web.sql:172-187`): md5-hex passwords, OPEN/STOPPED status, and
  * a base64(JSON) session token whose password field is a RE-hash of the
  * stored hash (`UserSession.toJsonString` md5s again), so the cookie
  * never carries the stored credential itself.
  */
object Users {

  /** Session cookie name (the reference's
    * `SystemConstants.COOKIE_NAME_SESSION_ID`).
    */
  val SessionCookie = "graft-platform-web-sessionid"

  final case class User(id: Int, username: String, fullname: String,
      password: String, enabled: Boolean)

  final case class Session(userid: Int, name: String, password: String)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Token = base64 of the session JSON (field order fixed so tokens are
    * deterministic).
    */
  def encodeSession(s: Session): String =
    java.util.Base64.getEncoder.encodeToString(
      (s"""{"name":${JsonUtil.str(s.name)}""" +
        s""","password":${JsonUtil.str(s.password)}""" +
        s""","userid":${s.userid}}""").getBytes("UTF-8"))

  /** The session of a token, or None when it is not one. */
  def decodeSession(token: String): Option[Session] =
    try {
      val n = JsonUtil.tree(
        new String(java.util.Base64.getDecoder.decode(token), "UTF-8"))
      val (name, pass, uid) =
        (n.path("name"), n.path("password"), n.path("userid"))
      if (name.isTextual && pass.isTextual && uid.isInt && uid.intValue >= 0)
        Some(Session(uid.intValue, name.textValue, pass.textValue))
      else None
    } catch { case _: Throwable => None }
}

/** Pluggable user persistence (in-memory for tests, JDBC mirroring the
  * reference's `user` table for durability).
  */
trait UserStore {
  def byName(username: String): Option[Users.User]
  def save(u: Users.User): Unit
  def all(): Seq[Users.User]
}

final class InMemoryUserStore extends UserStore {
  private val m = scala.collection.concurrent.TrieMap[String, Users.User]()
  def byName(username: String): Option[Users.User] = m.get(username)
  def save(u: Users.User): Unit = m(u.username) = u
  def all(): Seq[Users.User] = m.values.toSeq.sortBy(_.id)
}

/** JDBC store over the platform's shared [[Jdbc]] helper (embedded
  * Derby in tests, any JDBC in production); schema mirrors the
  * reference's `user` table columns that matter to the engine.
  */
final class JdbcUserStore(url: String, user: String = "", pass: String = "")
    extends UserStore {

  private val db = new Jdbc(url, user, pass)

  db.ensureTable(
    """CREATE TABLE sys_user (
      |  id INT PRIMARY KEY,
      |  username VARCHAR(100) UNIQUE,
      |  full_name VARCHAR(255),
      |  password VARCHAR(255),
      |  status SMALLINT)""".stripMargin)

  private val Select =
    "SELECT id, username, full_name, password, status FROM sys_user"

  private def row(rs: java.sql.ResultSet): Users.User =
    Users.User(rs.getInt(1), rs.getString(2), rs.getString(3),
      rs.getString(4), rs.getShort(5) == 1)

  def byName(username: String): Option[Users.User] =
    db.query(s"$Select WHERE username = ?", username)(row).headOption

  def save(u: Users.User): Unit = {
    val cols = Seq[Any](u.fullname, u.password,
      (if (u.enabled) 1 else 0).toShort, u.username)
    db.upsert(
      "UPDATE sys_user SET full_name = ?, password = ?, status = ? WHERE username = ?",
      cols,
      "INSERT INTO sys_user (full_name, password, status, username, id) VALUES (?,?,?,?,?)",
      cols :+ u.id)
  }

  def all(): Seq[Users.User] = db.query(s"$Select ORDER BY id")(row)
}

/** The reference's user verbs with its exact credential semantics:
  * `login` accepts md5-stored passwords and (legacy) plain-stored ones,
  * and the issued session re-hashes so `checkLogin` compares against
  * md5(stored) — `UserServiceImpl.java:40-80`.
  */
final class UserService(store: UserStore) {
  import Users._

  private val lock = new Object

  /** A 32-hex string is treated as an md5-stored credential; only rows
    * that are NOT md5-shaped get the legacy plain-password path. Without
    * this shape check the fallback is a pass-the-hash hole: presenting a
    * leaked stored hash as the password would authenticate. Deliberate
    * edge: a legacy PLAIN row whose plaintext happens to be 32 hex chars
    * cannot log in (the stored value is indistinguishable from a hash) —
    * security wins; an admin password reset migrates such rows.
    */
  private def isMd5Hex(s: String): Boolean =
    s != null && s.length == 32 &&
      s.forall(c => c.isDigit || ('a' <= c.toLower && c.toLower <= 'f'))

  /** Per-process session salt folded into every token's password field.
    * The reference's cookie is pure base64 JSON derivable from the
    * stored hash — anyone holding a leaked hash can MINT a session
    * without calling login. Salting makes tokens unforgeable without
    * this process's secret; the (documented) trade is that sessions
    * don't survive a platform restart, which in-process jobs don't
    * either.
    */
  private val sessionSalt: String = java.util.UUID.randomUUID().toString

  /** Login → session token. Throws IllegalArgumentException on unknown /
    * stopped user or bad credentials (the facade maps these to 401).
    */
  def login(username: String, password: String): String = {
    val u = store.byName(username).getOrElse(
      throw new IllegalArgumentException(s"user '$username' does not exist"))
    if (!u.enabled)
      throw new IllegalArgumentException(s"user '$username' is stopped")
    // stored is normally md5(plain); tolerate a legacy plain-stored row
    // like the reference — but ONLY for rows that aren't md5-shaped, so
    // the stored hash itself never works as a password. The token then
    // hashes once more so it never carries the plaintext.
    val effective =
      if (md5(password).equalsIgnoreCase(u.password)) u.password
      else if (!isMd5Hex(u.password) && password == u.password)
        md5(u.password)
      else throw new IllegalArgumentException("wrong password")
    encodeSession(Session(u.id, u.username, md5(sessionSalt + effective)))
  }

  /** Is this session token still valid against the current store?
    * Checks `enabled` too, so stopping a user revokes their existing
    * sessions on the next request — not just future logins.
    */
  def checkLogin(token: String): Boolean =
    decodeSession(token).exists { s =>
      store.byName(s.name).exists { u =>
        u.enabled &&
        (s.password.equalsIgnoreCase(md5(sessionSalt + u.password)) ||
          (!isMd5Hex(u.password) &&
            s.password.equalsIgnoreCase(md5(sessionSalt + md5(u.password)))))
      }
    }

  def userOf(token: String): Option[User] =
    decodeSession(token).filter(_ => checkLogin(token))
      .flatMap(s => store.byName(s.name))

  def addUser(username: String, fullname: String, password: String): User =
    lock.synchronized {
      require(username.nonEmpty && password.nonEmpty,
        "username and password are required")
      if (store.byName(username).isDefined)
        throw new IllegalStateException(s"user '$username' already exists")
      val id = store.all().map(_.id).maxOption.getOrElse(0) + 1
      val u = User(id, username, fullname, md5(password), enabled = true)
      store.save(u)
      u
    }

  def updatePassword(username: String, oldPassword: String,
      newPassword: String): Unit = lock.synchronized {
    val u = store.byName(username).getOrElse(
      throw new NoSuchElementException(s"user '$username' does not exist"))
    // Mirror login's legacy tolerance: a row that isn't md5-shaped is a
    // plain-stored legacy password, and its owner must still be able to
    // rotate it (after which the row is md5-shaped like everyone else's).
    val ok = u.password.equalsIgnoreCase(md5(oldPassword)) ||
      (!isMd5Hex(u.password) && oldPassword == u.password)
    require(ok, "old password is wrong")
    store.save(u.copy(password = md5(newPassword)))
  }

  def updateFullName(username: String, fullname: String): Unit =
    lock.synchronized {
      val u = store.byName(username).getOrElse(
        throw new NoSuchElementException(s"user '$username' does not exist"))
      store.save(u.copy(fullname = fullname))
    }

  /** Stop (disable login) or reopen a user. */
  def stopOrOpen(username: String, open: Boolean): Unit = lock.synchronized {
    val u = store.byName(username).getOrElse(
      throw new NoSuchElementException(s"user '$username' does not exist"))
    store.save(u.copy(enabled = open))
  }

  def queryAll(): Seq[User] = store.all()
}
