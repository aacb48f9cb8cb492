package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.storage.StorageLevel

/** ns/row of graft's custom Catalyst kernels: `select(kernel(cols))`
  * through the `noop` sink over fixed, cached columns derived from the
  * sf0.1 drop's `documents` and `embeddings` tables. The figure includes
  * reading the kernel's input columns from the cache. */
object Kernels {
  /** (kernel, input frame, expression) */
  val all: Seq[(String, String, String)] = Seq(
    ("minhash128", "docs", "minhash128(sh)"),
    ("simhash64", "docs", "simhash64(toks)"),
    ("word_shingles3", "docs", "word_shingles3(text)"),
    ("word_tokens", "docs", "word_tokens(text)"),
    ("text_profile", "docs", "text_profile(text)"),
    ("token_profile", "docs", "token_profile(text)"),
    ("winnow_fps", "docs", "winnow_fps(text)"),
    ("sorted_intersect_count", "docs", "sorted_intersect_count(hs, hs2)"),
    ("hamming64", "docs", "hamming64(sig, sig2)"),
    ("vec_dot", "vecs", "vec_dot(e, e2)"),
    ("vec_l2sq_long", "vecs", "vec_l2sq_long(qv, qv2)"),
    ("vec_dot_long", "vecs", "vec_dot_long(qv, qv2)"))

  val MinRows = 40000L
  val Repeats = 3

  def nsPerRow(spark: SparkSession, dataDir: String): Map[String, Double] = {
    // a near-duplicate partner per row: the same text with one word
    // appended, as in the corpus's planted duplicates
    val docs = replicate(spark, graft.sources.Tables.documents(spark, dataDir).select("text"))
      .withColumn("text2", expr("concat(text, ' dup')"))
      .withColumn("toks", expr("word_tokens(text)"))
      .withColumn("sh", expr("word_shingles3(text)"))
      .withColumn("hs", expr("sort_array(transform(sh, s -> xxhash64(s)))"))
      .withColumn("hs2", expr("sort_array(transform(word_shingles3(text2), s -> xxhash64(s)))"))
      .withColumn("sig", expr("simhash64(toks)"))
      .withColumn("sig2", expr("simhash64(word_tokens(text2))"))
    val vecs = replicate(spark, graft.sources.Tables.embeddings(spark, dataDir).select("embedding"))
      .select(col("embedding").as("e"), expr("reverse(embedding)").as("e2"))
      .withColumn("qv", expr("transform(e, x -> cast(round(x * 1000000) as bigint))"))
      .withColumn("qv2", expr("reverse(qv)"))
    val inputs = Map("docs" -> pin(docs), "vecs" -> pin(vecs))
    val rows = inputs.map { case (k, df) => k -> df.count() }
    try all.map { case (name, input, e) =>
      val run = () => inputs(input).select(expr(e).as("k")).write.format("noop").mode("overwrite").save()
      run()
      val times = (1 to Repeats).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0).toDouble
      }
      name -> Tracer.median(times) / rows(input)
    }.toMap
    finally inputs.values.foreach(_.unpersist(blocking = false))
  }

  private def replicate(spark: SparkSession, df: DataFrame): DataFrame = {
    val n = df.count()
    val reps = math.max(1L, (MinRows + n - 1) / math.max(n, 1L))
    df.crossJoin(spark.range(reps).toDF("rep")).drop("rep")
  }

  private def pin(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_ONLY)
}
