package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the names of the catalog's queries as a JSON list.
  * Usage: ListQueries <out.json> */
object ListQueries {
  def main(args: Array[String]): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(args(0)), graft.SparkEntry.queries.keys.toList.sorted)
}
