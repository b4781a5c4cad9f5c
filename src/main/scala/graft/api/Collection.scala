package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** A control-plane entity: every stored row has an id. */
trait Entity { def id: String }
/** An entity whose name is unique within its kind. */
trait Named extends Entity { def name: String }

/** One persisted control-plane value: a JSON file under the control
  * dir, its codec, and the in-memory value. The file is read once, at
  * construction (an absent file is `empty`, and nothing is written);
  * [[persist]] replaces it durably. Callers serialize access under
  * their own lock. */
private[api] class Store[A](dir: Path, file: String, encode: A => JValue,
                            decode: JValue => A, empty: => A) {

  var value: A = {
    val p = dir.resolve(file)
    if (!Files.exists(p)) empty
    else {
      val json =
        try JsonMethods.parse(new String(Files.readAllBytes(p), UTF_8))
        catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException =>
            throw new IllegalStateException(
              s"control file $file is not valid JSON: ${e.getOriginalMessage}", e)
        }
      decode(json)
    }
  }

  def set(next: A): Unit = { value = next; persist() }

  /** Durable replace: the temp file's bytes reach the disk before the
    * rename publishes them, and the directory is synced after it, so a
    * crash leaves either the old file or the whole new one. */
  def persist(): Unit = {
    import java.nio.channels.FileChannel
    import java.nio.file.{StandardOpenOption => O}
    val tmp = dir.resolve(s".$file.tmp")
    val ch = FileChannel.open(tmp, O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
    try {
      val buf = java.nio.ByteBuffer.wrap(
        JsonMethods.compact(JsonMethods.render(encode(value))).getBytes(UTF_8))
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, dir.resolve(file), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val d = FileChannel.open(dir, O.READ)
    try d.force(true) finally d.close()
  }
}

/** The entity kinds: a JSON array of rows with the shared CRUD —
  * find-or-[[ControlPlane.NotFound]], name-unique-or-
  * [[ControlPlane.Conflict]], add, replace-by-id, remove-by-id — each
  * write persisting the whole file. `resource` names the kind in 404s,
  * `noun` in name conflicts. */
private[api] final class Collection[T <: Entity](
    dir: Path, file: String, resource: String, noun: String,
    encode: T => JValue, decode: Seq[Row] => Seq[T])
  extends Store[Vector[T]](dir, file,
    (ts: Vector[T]) => JArray(ts.toList.map(encode)),
    (v: JValue) => decode(Row.rows(file, v)).toVector, Vector.empty) {

  def find(id: String): Option[T] = value.find(_.id == id)
  def get(id: String): T =
    find(id).getOrElse(throw ControlPlane.NotFound(resource, id))

  /** 409 unless `name` is free, ignoring the row `except` (an update
    * keeping its own name). */
  def requireFreeName(name: String, except: String = "")(
      implicit named: T <:< Named): Unit =
    if (value.exists(t => named(t).name == name && t.id != except))
      throw ControlPlane.Conflict(s"$noun with this name already exists")

  def add(t: T): T = { set(value :+ t); t }
  def replace(t: T): T = { set(value.map(x => if (x.id == t.id) t else x)); t }
  def remove(id: String): Unit = set(value.filterNot(_.id == id))
}

private[api] object Collection {
  /** The common decode: one entity per row. */
  def apply[T <: Entity](dir: Path, file: String, resource: String = "",
                         noun: String = "")(encode: T => JValue)(
      decode: Row => T): Collection[T] =
    new Collection[T](dir, file, resource, noun, encode, _.map(decode))
}

/** The encode side: `"field" := value` for the JSON types the control
  * files hold. An absent option writes `null`; a string map writes its
  * keys sorted. */
private[api] object Json {
  trait W[A] { def apply(a: A): JValue }
  implicit val jv: W[JValue] = v => v
  implicit val string: W[String] = JString(_)
  implicit val int: W[Int] = JInt(_)
  implicit val long: W[Long] = JInt(_)
  implicit val double: W[Double] = JDouble(_)
  implicit val bool: W[Boolean] = JBool(_)
  implicit val strings: W[Seq[String]] = xs => JArray(xs.toList.map(JString(_)))
  implicit val stringMap: W[Map[String, String]] = m =>
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) })
  implicit val longMap: W[Map[String, Long]] = m =>
    JObject(m.toList.map { case (k, v) => k -> (JInt(v): JValue) })
  implicit def option[A](implicit w: W[A]): W[Option[A]] =
    _.fold[JValue](JNull)(w(_))

  implicit final class Key(private val k: String) extends AnyVal {
    def :=[A](a: A)(implicit w: W[A]): JField = k -> w(a)
  }
  def obj(fields: JField*): JObject = JObject(fields.toList)
  def arr[A](xs: Seq[A])(f: A => JValue): JValue = JArray(xs.toList.map(f))
}

/** The decode side: one stored JSON object, read field by field. A
  * missing or mistyped field throws `IllegalStateException` naming the
  * file, the entity id (when it was read) and the field — corrupt state
  * never loads as "" / 0 / empty. The legacy fields that may be absent
  * ([[Row.Tolerated]], with the value an absent one reads as) and the
  * other accepted forms are listed on [[ControlPlane]]. */
private[api] final class Row(file: String, v: JValue, entity: Option[String],
                             prefix: String) {

  private val fields: List[JField] = v match {
    case JObject(fs) => fs
    case other => Row.refuse(file, entity,
      s"${if (prefix.isEmpty) "a row" else prefix.stripSuffix(".")} holds " +
        s"${Row.show(other)}, expected an object")
  }

  /** This row's id, or the enclosing row's for a nested one. */
  val id: Option[String] = fields.collectFirst {
    case ("id" | "policy_id", JString(s)) => s
  }.orElse(entity)

  private def fail(field: String, problem: String): Nothing =
    Row.refuse(file, id, s"field '$prefix$field' $problem")

  private def get(f: String): JValue =
    fields.collectFirst { case (`f`, x) => x }
      .orElse(Row.Tolerated.get(f))
      .getOrElse(fail(f, "is missing"))

  private def as[A](f: String, what: String)(read: PartialFunction[JValue, A]): A = {
    val x = get(f)
    read.applyOrElse(x,
      (_: JValue) => fail(f, s"holds ${Row.show(x)}, expected $what"))
  }
  private def nullable[A](f: String)(read: String => A): Option[A] =
    if (get(f) == JNull) None else Some(read(f))

  def str(f: String): String = as(f, "a string") { case JString(s) => s }
  def bool(f: String): Boolean = as(f, "a boolean") { case JBool(b) => b }
  def int(f: String): Int =
    as(f, "a 32-bit integer") { case JInt(n) if n.isValidInt => n.toInt }
  def long(f: String): Long =
    as(f, "an integer") { case JInt(n) if n.isValidLong => n.toLong }
  def double(f: String): Double = as(f, "a number") {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case JDecimal(d) => d.toDouble
  }
  def optStr(f: String): Option[String] = nullable(f)(str)
  def optLong(f: String): Option[Long] = nullable(f)(long)
  def optDouble(f: String): Option[Double] = nullable(f)(double)
  def strs(f: String): Seq[String] = as(f, "an array of strings") {
    case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
      xs.collect { case JString(s) => s }
  }
  def strMap(f: String): Map[String, String] = as(f, "an object of strings") {
    case JObject(fs) if fs.forall(_._2.isInstanceOf[JString]) =>
      fs.collect { case (k, JString(s)) => k -> s }.toMap
  }
  def longMap(f: String): Map[String, Long] = as(f, "an object of integers") {
    case JObject(fs)
        if fs.forall { case (_, JInt(n)) => n.isValidLong; case _ => false } =>
      fs.collect { case (k, JInt(n)) => k -> n.toLong }.toMap
  }

  /** Nested rows (rules, routes, table mappings). */
  def rows(f: String): Seq[Row] = get(f) match {
    case JArray(xs) => xs.zipWithIndex.map { case (x, i) =>
      new Row(file, x, id, s"$prefix$f[$i].") }
    case x => fail(f, s"holds ${Row.show(x)}, expected an array")
  }
}

private[api] object Row {
  val Tolerated: Map[String, JValue] = Map(
    "default_role" -> JString("viewer"),
    "is_active" -> JBool(true),
    "oidc_provider_id" -> JNull,
    "oidc_subject" -> JNull,
    "oidc_groups" -> JArray(Nil),
    "routes" -> JArray(Nil),
    "tables" -> JArray(Nil),
    "scopes" -> JArray(Nil),
    "role_mapping" -> JObject(Nil),
    "matchers" -> JObject(Nil),
    "pending_since" -> JObject(Nil))

  /** The rows of a file that must hold a JSON array. */
  def rows(file: String, v: JValue): Seq[Row] = v match {
    case JArray(xs) => xs.map(new Row(file, _, None, ""))
    case other => refuse(file, None, s"holds ${show(other)}, expected an array")
  }

  /** The rows of a file that must hold a JSON object keyed by id. */
  def keyed(file: String, v: JValue): Seq[(String, Row)] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> new Row(file, x, Some(k), "") }
    case other => refuse(file, None, s"holds ${show(other)}, expected an object")
  }

  private def refuse(file: String, id: Option[String], problem: String): Nothing =
    throw new IllegalStateException(
      s"control file $file${id.fold("")(i => s", entity $i")}: $problem")

  /** The offending value, cut short. */
  private def show(v: JValue): String = {
    val s = JsonMethods.compact(JsonMethods.render(v))
    if (s.length <= 40) s else s.take(37) + "..."
  }
}
