package perfbench

import graft.util.JsonStrings

/** Minimal JSON rendering for the benchmark's result and trace files.
  * Maps keep insertion order (pass a `Seq` of pairs or a `ListMap`);
  * non-finite doubles render as `null`.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => sb.append(JsonStrings.quote(s))
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] => obj(sb, m.toSeq)
    case kv: Obj => obj(sb, kv.fields)
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => sb.append(JsonStrings.quote(other.toString))
  }

  private def obj(sb: StringBuilder, kvs: Seq[(Any, Any)]): Unit = {
    sb.append('{')
    var first = true
    kvs.foreach { case (k, x) =>
      if (!first) sb.append(',')
      first = false
      sb.append(JsonStrings.quote(k.toString)).append(':')
      write(sb, x)
    }
    sb.append('}')
  }

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def writeFile(path: java.nio.file.Path, v: Any): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
