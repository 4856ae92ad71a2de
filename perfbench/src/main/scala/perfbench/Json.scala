package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File

/** Minimal JSON building on the Jackson that ships with Spark. */
object Json {
  final class Obj extends java.util.LinkedHashMap[String, Any] {
    def put(k: String, v: Long): Any = super.put(k, java.lang.Long.valueOf(v))
    def put(k: String, v: Int): Any = super.put(k, java.lang.Integer.valueOf(v))
    def put(k: String, v: Double): Any = super.put(k, java.lang.Double.valueOf(v))
    def put(k: String, v: Boolean): Any = super.put(k, java.lang.Boolean.valueOf(v))
  }
  private val mapper = new ObjectMapper()

  def metric(value: Double, unit: String): Obj = {
    val o = new Obj
    o.put("value", value)
    o.put("unit", unit)
    o
  }
  def arr[T](xs: Iterable[T]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(x => l.add(x))
    l
  }
  def fromMap(m: Map[String, Any]): Obj = {
    val o = new Obj
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    o
  }
  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
  }
}
