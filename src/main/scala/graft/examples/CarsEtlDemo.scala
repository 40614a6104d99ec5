package graft.examples

import graft.Sessions
import graft.workflow.{Etl, LoadCsvConfig, LoadQueryConfig}

/** End-to-end demo of the reference workflow (SURVEY §3.1/§3.2) on a
  * local fixture directory: newest-file pick → schema-driven CSV
  * repair → table materialization → SQL step with append disposition →
  * archive. Run: `sbt "runMain graft.examples.CarsEtlDemo <dir>"`
  * where <dir> holds `cars_*.csv`, `cars_schema.yaml`, `big_cars.sql`.
  */
object CarsEtlDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: CarsEtlDemo <fixture-dir>"))
    val spark = Sessions.local(4, Some(s"$dir/warehouse"))
    spark.sparkContext.setLogLevel("WARN")

    val status = Etl.carsWorkflow(spark,
      LoadCsvConfig(dir = dir, prefix = "cars_", schemaFile = "cars_schema.yaml",
        destinationTable = "cars_{5:11}", schemaDir = s"$dir/schemas"),
      LoadQueryConfig(queryDir = dir, queryFile = "big_cars.sql",
        destinationTable = "big_cars", append = true))
    println(s"workflow status: $status")

    spark.catalog.listTables().show(false)
    spark.sql("SELECT count(*) AS n_cars FROM cars_202109").show()
    spark.table("cars_202109").show(5, truncate = false)
    spark.sql("SELECT count(*) AS n_big FROM big_cars").show()

    // second run: no unarchived file remains → CsvNotFound → "Not found"
    val second = Etl.carsWorkflow(spark,
      LoadCsvConfig(dir = dir, prefix = "cars_", schemaFile = "cars_schema.yaml",
        destinationTable = "cars_{5:11}", schemaDir = s"$dir/schemas"),
      LoadQueryConfig(queryDir = dir, queryFile = "big_cars.sql",
        destinationTable = "big_cars", append = true))
    println(s"second run status: $second")
    spark.stop()
  }
}
