package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Times the engine's own Catalyst kernels (`graft.plans`, called by
  * their registered SQL names as `graft.functions` does) on inputs
  * built from the run's tables and cached, so only the projection that
  * evaluates the kernel is timed. Reported as nanoseconds per input
  * row, the median of several executions to the noop sink. */
object Kernels {
  /** Lat/lon and wire encodings derived from `events`, the way the
    * ingest and geo queries synthesize their inputs. */
  private def positions(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir).selectExpr(
      "event_id", "user_id", "event_type", "ts",
      "event_id * 7919 % 3000 + 503000 AS lat_e4",
      "event_id * 104729 % 6000 + 302000 AS lon_e4")

  private def hexLe(c: String): String = {
    val h = s"lpad(hex($c), 8, '0')"
    s"concat(substring($h, 7, 2), substring($h, 5, 2), substring($h, 3, 2), substring($h, 1, 2))"
  }

  private def posJson(lat: String, lon: String): String =
    s"""concat('{"vehicle_id":', user_id, ',"route_id":', user_id % 25,
       |',"lat":', $lat, ',"lon":', $lon, ',"direction":', event_id % 2,
       |',"flag":', event_id % 4, ',"timestamp":', ts div 1000000000, '}')""".stripMargin

  /** A concave ring over the positions' bounding box, so the ray cast
    * cannot shortcut on convexity. */
  private val ring = Seq((30.20, 50.30), (30.80, 50.30), (30.80, 50.60),
    (30.50, 50.40), (30.20, 50.60))
    .map { case (x, y) => s"named_struct('x', ${x}D, 'y', ${y}D)" }.mkString("array(", ", ", ")")

  /** (kernel, input table, expression over the input's columns). */
  private def cases(spark: SparkSession, dir: String): Seq[(String, DataFrame, String)] = {
    val pos = positions(spark, dir).selectExpr(
      s"""concat('{"collected_by":"kpt","timestamp":"2024-01-01T00:00:00","count":2,"positions":[',
         |${posJson("lat_e4", "lon_e4")}, ',', ${posJson("lat_e4 + 1", "lon_e4 + 1")}, ']}') AS line""".stripMargin,
      """concat('<node id="', event_id, '" lat="', lat_e4, '" lon="', lon_e4,
        |'"><tag k="highway" v="', event_type, '"/><tag k="ref" v="', user_id,
        |'"/></node>') AS xml""".stripMargin,
      s"""unhex(concat(${hexLe("lon_e4 * 10000")}, ${hexLe("event_id * 7919 % 3000 * 10000 + 3030000000")},
         |${hexLe("lon_e4 * 10000 + 1")}, ${hexLe("event_id * 7919 % 3000 * 10000 + 3030000001")})) AS bin""".stripMargin,
      "lat_e4 / 10000D AS lat", "lon_e4 / 10000D AS lon",
      "lat_e4 / 10000D + 0.01D * (event_id % 7) AS lat2",
      "lon_e4 / 10000D + 0.013D * (event_id % 5) AS lon2",
      s"$ring AS verts")
    val docs = graft.Tables.documents(spark, dir)
      .crossJoin(spark.range(4).withColumnRenamed("id", "copy"))
      .selectExpr("text", "array_xxhash64(word_shingles(text, 3, true)) AS hashes")
    val vecs = graft.Tables.embeddings(spark, dir)
      .crossJoin(spark.range(8).withColumnRenamed("id", "copy"))
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS a")
      .selectExpr("a", "reverse(a) AS b")
    Seq(
      ("PositionRecordParse", pos, "position_record_parse(line)"),
      ("OsmNodeParse", pos, "osm_node_parse(xml)"),
      ("BinaryGpsDecode", pos, "binary_gps_decode(bin)"),
      ("HaversineDist", pos, "haversine_km(lat, lon, lat2, lon2)"),
      ("RayCastContains", pos, "ray_cast_contains(verts, lat, lon)"),
      ("MinHashSig", docs, "minhash_sig(hashes, 64)"),
      ("WordShingles", docs, "word_shingles(text, 3, true)"),
      ("BpePieceCount", docs, "bpe_piece_count(text)"),
      ("ArrayDot", vecs, "array_dot(a, b)"))
  }

  def run(spark: SparkSession, dir: String, reps: Int): Seq[(String, Double, Long)] = {
    val inputs = cases(spark, dir)
    val cached = inputs.map(_._2).distinct.map { df =>
      val c = df.cache()
      df -> (c, c.count())
    }.toMap
    try inputs.map { case (name, df, e) =>
      val (input, rows) = cached(df)
      val q = input.select(expr(e).as("k"))
      def once(): Long = {
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      once()
      val ts = Seq.fill(reps)(once()).sorted
      (name, ts(ts.size / 2).toDouble / rows, rows)
    } finally cached.values.foreach(_._1.unpersist())
  }
}
