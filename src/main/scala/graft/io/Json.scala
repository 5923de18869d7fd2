package graft.io

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import scala.jdk.CollectionConverters._

/** The one JSON codec for every document graft writes or reads (README,
  * "On-disk metadata files"), on Jackson databind's tree model, which
  * Spark already ships. Objects keep their insertion order and print
  * compactly (`{"k":v,...}`). Reading is strict: text that is truncated,
  * is not JSON, has trailing text or repeats a key does not parse, and
  * each accessor of [[Value]] returns the type it asks for or throws an
  * IllegalArgumentException naming the document and the field.
  */
private[graft] object Json {

  private val mapper = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(DeserializationFeature.FAIL_ON_READING_DUP_TREE_KEY)
    .build()
  private val nodes = JsonNodeFactory.instance

  /** An object of `fields` in the given order, each value as [[node]]. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** A Scala value as JSON: a string, Int, Long, Double, Boolean,
    * BigDecimal (printed with its scale: `12.30`), Option (None is
    * null), a Seq, Array or Iterator (an array), or a node.
    */
  def node(v: Any): JsonNode = v match {
    case null | None => NullNode.instance
    case Some(x) => node(x)
    case n: JsonNode => n
    case s: String => TextNode.valueOf(s)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case d: Double => DoubleNode.valueOf(d)
    case b: Boolean => BooleanNode.valueOf(b)
    case d: BigDecimal => DecimalNode.valueOf(d.bigDecimal)
    case xs: IterableOnce[_] => xs.iterator.foldLeft(nodes.arrayNode())((a, x) => a.add(node(x)))
    case xs: Array[_] => node(xs.iterator)
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** `x` with `places` decimals, as `%.Nf` prints it. */
  def fixed(x: Double, places: Int): BigDecimal =
    BigDecimal(s"%.${places}f".formatLocal(java.util.Locale.ROOT, x))

  def render(doc: JsonNode): String = mapper.writeValueAsString(doc)

  /** Publish `doc` at `path` (temp file + atomic rename). */
  def write(path: String, doc: JsonNode, conf: Configuration): Unit =
    TableIO.atomicWrite(path, render(doc), conf)

  /** Parse `text`; errors name it as `source`. */
  def parse(text: String, source: String): Value =
    try new Value(mapper.readTree(text), "", source, text) catch {
      case e: JsonProcessingException => throw new IllegalArgumentException(
        s"$source is corrupt: not a JSON document (${e.getOriginalMessage})", e)
    }

  /** The document at `path` on any Hadoop filesystem, None if there is
    * no file; errors name it as `"$what $path"`.
    */
  def read(path: String, conf: Configuration, what: String = ""): Option[Value] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Some(parse(text, if (what.isEmpty) path else s"$what $path"))
    }
  }

  /** One node of a parsed document; `at` is its field path (`a.b.0` for
    * the first element of field `b` of field `a`, "" for the document).
    */
  final class Value private[Json] (val node: JsonNode, at: String,
                                   source: String, text: String) {

    private def corrupt(what: String): Nothing = throw new IllegalArgumentException(
      s"$source is corrupt: $what in: ${text.take(300)}")

    /** Throw the accessors' error: this node `why`. */
    def refuse(why: String): Nothing =
      corrupt((if (at.isEmpty) "the document" else s"field $at") + s" $why")

    private def sub(k: String) = if (at.isEmpty) k else s"$at.$k"
    private def fieldsNode =
      if (node.isObject) node else refuse("is not an object")

    /** Field `k`; missing or null is an error. */
    def apply(k: String): Value = opt(k).getOrElse(corrupt(s"missing field ${sub(k)}"))

    /** Field `k`, None if missing or null. */
    def opt(k: String): Option[Value] = Option(fieldsNode.get(k))
      .filterNot(_.isNull).map(new Value(_, sub(k), source, text))

    /** Whether field `k` is the string `v`. */
    def has(k: String, v: String): Boolean =
      Option(fieldsNode.get(k)).exists(n => n.isTextual && n.textValue == v)

    def long: Long =
      if (node.isIntegralNumber && node.canConvertToLong) node.longValue
      else refuse("is not a 64-bit integer")
    def int: Int =
      if (node.isIntegralNumber && node.canConvertToInt) node.intValue
      else refuse("is not a 32-bit integer")
    def double: Double = if (node.isNumber) node.doubleValue else refuse("is not a number")
    def str: String = if (node.isTextual) node.textValue else refuse("is not a string")

    def elems: Seq[Value] =
      if (!node.isArray) refuse("is not an array")
      else node.iterator.asScala.zipWithIndex.map { case (n, i) =>
        new Value(n, sub(i.toString), source, text) }.toSeq

    /** The object's fields in document order. */
    def fields: Seq[(String, Value)] = fieldsNode.properties.asScala.toSeq
      .map(e => e.getKey -> new Value(e.getValue, sub(e.getKey), source, text))
  }
}
