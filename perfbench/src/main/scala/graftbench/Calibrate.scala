package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Dumps what `perfbench/calibrate.py` needs to verify a query
  * workload's digests against the DuckDB oracle: each op's last result
  * as parquet under `<dir>/<op>/`, `digests.json` and `oracle_sql.json`. */
object Calibrate {
  def dump(spark: SparkSession, q: QueryWorkload, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    q.results.foreach { case (name, (rows, df)) =>
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
    Files.writeString(Paths.get(s"$dir/digests.json"),
      Json.render(q.seen.map { case (k, d) => k -> d.toString }))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.render(q.seen.keys.toSeq.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
  }
}
