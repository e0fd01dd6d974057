package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The one JSON codec for bench lines, artifacts and the gate specs that
  * read them back (jackson-module-scala, which ships with Spark).
  *
  * Objects are written from Scala maps in iteration order, so emitters use
  * `ListMap` to fix their key order. A fixed number of decimals is a
  * `java.math.BigDecimal` of that scale ([[round]]): it is written as is. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)

  def read(text: String): JsonNode = mapper.readTree(text)

  def readFile(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  /** An object's members as numbers, in document order. */
  def numbers(obj: JsonNode): ListMap[String, Double] =
    ListMap(obj.properties.asScala.toSeq
      .map(e => e.getKey -> e.getValue.asDouble): _*)

  /** `v` rounded half-up to `decimals` places, written with exactly that
    * many (the `%.3f` rendering). */
  def round(v: Double, decimals: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(decimals, java.math.RoundingMode.HALF_UP)
}
