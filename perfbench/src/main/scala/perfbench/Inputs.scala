package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.model.{LabeledPair, WebPage}
import graft.sources.WebPagesGen._

/** Seeded inputs. Pages are a pure function of cluster id (the program's
  * own WebPagesGen), over a cluster-id range that the seed offsets, so each
  * seed gives a different corpus with the generator's own mix: mostly
  * singletons, a tail of up to 6 variants, Zipf hot domains, and
  * title-collision negatives. */
object Inputs {

  /** First cluster id of a seed's range; ranges of different seeds are
    * disjoint for any corpus below a million clusters. */
  def clusterStart(seed: Long): Long = Math.floorMod(seed, 1000000L) * 1000000L

  private def clusters(spark: SparkSession, start: Long, n: Long, parts: Int) =
    spark.range(start, start + n, 1L, parts)

  def webpages(spark: SparkSession, start: Long, n: Long, parts: Int): Dataset[WebPage] = {
    import spark.implicits._
    clusters(spark, start, n, parts).flatMap { c =>
      (0 until clusterSize(c)).map(v => genPage(c, v).page)
    }
  }

  /** Positive pairs within each cluster; a title-collision cluster's base
    * page against its predecessor's, when the predecessor is in range. */
  def labeledPairs(spark: SparkSession, start: Long, n: Long): Dataset[LabeledPair] = {
    import spark.implicits._
    clusters(spark, start, n, 1).flatMap { c =>
      val urls = (0 until clusterSize(c)).map(v => urlOf(c, v))
      val positives = for {
        i <- urls.indices
        j <- (i + 1) until urls.length
      } yield LabeledPair(urls(i), urls(j), is_duplicate = true, blockKeyOf(c))
      val negatives =
        if (c > start && hasTitleCollision(c))
          Seq(LabeledPair(urlOf(c - 1, 0), urls.head, is_duplicate = false, blockKeyOf(c)))
        else Nil
      positives ++ negatives
    }
  }

  /** (doc_id, source, text) rows: the extracted text of the same pages, so
    * the planted variants arrive as near-duplicate documents. */
  def corpusDocs(spark: SparkSession, start: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    clusters(spark, start, n, parts).flatMap { c =>
      (0 until clusterSize(c)).map { v =>
        (c * 8 + v, s"src${domainOf(c, v) % 8}", genPage(c, v).page.text)
      }
    }.toDF("doc_id", "source", "text")
  }

  /** Order-insensitive digest of a frame: row count and the exact sum of
    * per-row 64-bit hashes over every column. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
