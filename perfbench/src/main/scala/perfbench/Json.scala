package perfbench

import java.nio.file.{Files, Paths}

import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}

/** JSON in and out over json4s (on Spark's classpath). */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def read(path: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))

  def toFile(path: String, v: AnyRef): Unit =
    Files.write(Paths.get(path), Serialization.write(v).getBytes("UTF-8"))
}
