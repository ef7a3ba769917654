package graft

import graft.plans.GraftFunctions

class SqlSurfaceSpec extends SparkSpec {

  test("registered graft functions work from spark.sql") {
    GraftFunctions.register(spark)
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === 32.0)

    val sh = spark.sql(
      "SELECT word_shingles('a b c d', 3) AS s").collect()(0)
      .getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))

    val jac = spark.sql(
      "SELECT jaccard_sim(array('x','y','z'), array('y','z','w')) AS j")
      .collect()(0).getDouble(0)
    assert(jac === 0.5)
  }

  test("cosine_sim and containment_sim compose correctly in SQL") {
    GraftFunctions.register(spark)
    // parallel unit vectors → 1.0; orthogonal → 0.0
    val cos = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(2.0d, 0.0d)) AS c1,
        |       cosine_sim(array(1.0d, 0.0d), array(0.0d, 3.0d)) AS c2,
        |       cosine_sim(array(0.0d), array(1.0d)) AS c3""".stripMargin)
      .collect()(0)
    assert(cos.getDouble(0) === 1.0)
    assert(cos.getDouble(1) === 0.0)
    assert(cos.isNullAt(2)) // zero norm → null, not NaN/crash (ANSI)
    val cont = spark.sql(
      """SELECT containment_sim(array('x','y'), array('x','y','z')) AS full,
        |       containment_sim(array('x','q'), array('x','y','z')) AS half""".stripMargin)
      .collect()(0)
    assert(cont.getDouble(0) === 1.0)
    assert(cont.getDouble(1) === 0.5)
  }

  test("murmur3_128 on the SQL surface: pinned seed 42, 16-byte digest") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT length(murmur3_128(CAST('x' AS BINARY))) AS len,
        |       murmur3_128(CAST('x' AS BINARY)) = murmur3_128(CAST('x' AS BINARY), 42) AS dflt,
        |       murmur3_128(CAST('x' AS BINARY)) = murmur3_128(CAST('x' AS BINARY), 0) AS other""".stripMargin)
      .collect()(0)
    assert(r.getInt(0) === 16)
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
  }

  test("block_hash on the SQL surface matches the Scala kernel") {
    GraftFunctions.register(spark)
    val payload = "some media payload bytes for fingerprinting, long enough to span blocks"
    val got = spark.sql(
      s"SELECT block_hash(CAST('$payload' AS BINARY)) AS bs")
      .collect()(0).getSeq[Int](0)
    val expect = graft.operators.Multimodal.blockhash(payload.getBytes("UTF-8"))
    assert(got === expect.toSeq)
    assert(got.forall(b => b >= 0 && b <= 0xFFFF))
  }

  test("z_value on the SQL surface matches the Column kernel and the bit definition") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (170L, 85L))
      .toDF("a", "b")
    df.createOrReplaceTempView("zv_in")
    val viaSql = spark.sql("SELECT z_value(a, b, 8) AS z FROM zv_in")
      .collect().map(_.getLong(0)).toSeq
    val viaColumn = df.select(graft.sinks.GraftSink.zValue(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), bits = 8))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql === viaColumn)
    // driver-side bit definition: a-bits odd positions, b-bits even
    def morton(a: Long, b: Long): Long =
      (0 until 8).map(i => (((a >> i) & 1) << (2 * i + 1)) | (((b >> i) & 1) << (2 * i))).reduce(_ | _)
    assert(viaSql === Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (170L, 85L))
      .map { case (a, b) => morton(a, b) })
  }

  test("registration is idempotent and mixed float/double vec_dot works") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(2.0 AS FLOAT)), array(3.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d === 6.0)
  }
}
