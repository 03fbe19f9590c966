package graftbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON output of the harness: ordered maps rendered by the Jackson Scala
  * module Spark already ships.
  */
object Json {
  type Obj = ListMap[String, Any]

  def obj(kv: (String, Any)*): Obj = ListMap(kv: _*)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
