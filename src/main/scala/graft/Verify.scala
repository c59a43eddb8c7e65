package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional trailing query names: dump only that subset (iteration aid;
    // the driver passes none and gets the full dump).
    val only = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Data-dependent oracles (trained-codebook literals) render HERE,
    // against the same sf dir the queries just ran on — each guarded so a
    // generator failure costs that one oracle (weaker rows-only check),
    // never the dump.
    val dynamic = SparkEntry.oracleSqlDynamic
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, gen) =>
        try Some(name -> gen(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] oracle gen $name failed: ${e.getMessage}")
          None
        }
      }
    val json = JObject((SparkEntry.oracleSql ++ dynamic).toList
      .map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(render(json)))
    spark.stop()
  }
}
