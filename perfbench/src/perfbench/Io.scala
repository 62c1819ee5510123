package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.kernel.Extract
import graft.spark.{ExtractJob, Schemas, SnapshotLog}

/** Helpers every workload uses to hand its generated pages to the engine. */
object Io {
  /** Materialize pages as a parquet table, the engine's input relation. */
  def writePages(spark: SparkSession, pages: Seq[Schemas.Page], dir: String, parts: Int): Unit = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(pages, parts))
      .write.mode("overwrite").parquet(dir)
  }

  /** A committed-file scan: the deterministic input `ExtractJob.run` requires. */
  def readPages(spark: SparkSession, dirs: String*): Dataset[Schemas.Page] = {
    import spark.implicits._
    spark.read.schema(Schemas.pagesSchema).parquet(dirs: _*).as[Schemas.Page]
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  private val FloorReps = 3

  /** Scan floor and scan + kernel floor over a pages table, to a noop sink. */
  def floors(ctx: Ctx, pagesDirs: Seq[String]): Unit = {
    val t = ctx.tracer
    for (_ <- 0 until FloorReps) {
      t.span("pages.scan") {
        readPages(ctx.spark, pagesDirs: _*).select("html", "text")
          .write.format("noop").mode("overwrite").save()
      }
      t.span("ExtractJob.extractDF") {
        ExtractJob.extractDF(readPages(ctx.spark, pagesDirs: _*), ctx.buckets)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** A seeded sample holding up to `perKind` pages of every kind. */
  def kindSample(pages: Seq[Gen.GenPage], perKind: Int, seed: Long): Seq[Gen.GenPage] = {
    val r = Gen.rng(seed, 77)
    pages.groupBy(_.kind).toSeq.sortBy(_._1.name).flatMap { case (_, ps) =>
      Gen.shuffle(ps.toIndexedSeq, r).take(perKind)
    }
  }

  /** Compare table rows against the single-threaded kernel, url by url. */
  def matchesOracle(spark: SparkSession, tableDir: String, sample: Seq[Gen.GenPage]): Boolean = {
    val want = sample.map(p => p.page.url -> Extract.extract(p.page.html, p.page.text)).toMap
    val got = new SnapshotLog(tableDir).scan(spark, Schemas.extractedSchema)
      .filter(col("url").isin(want.keys.toSeq: _*))
      .select("url", "kind", "pages", "text").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getSeq[String](2).toVector, r.getString(3))).toMap
    got.size == want.size && want.forall { case (url, e) =>
      got.get(url).contains((e.kind, e.pages, e.text))
    }
  }
}
