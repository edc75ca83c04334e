package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PortableLnSpec extends SparkSpec {
  import spark.implicits._

  private val probes = Seq(0.6, 2.5 / 1.5, 7.0, 0.3, 1.0, 123456.789,
    1.0001, 1e-6, 1e9)

  test("Spark column equals the JVM replay bit for bit on every probe") {
    val got = probes.toDF("x")
      .select(col("x"), PortableLn.portableLn(col("x")).as("pln"))
      .as[(Double, Double)].collect().toMap
    probes.foreach { x =>
      assert(got(x) === PortableLnSpec.replay(x),
        s"x=$x: column ${got(x)} vs replay ${PortableLnSpec.replay(x)}")
    }
  }

  test("tracks true ln within 5e-10 absolute + 2e-10 relative") {
    probes.foreach { x =>
      val err = math.abs(PortableLnSpec.replay(x) - math.log(x))
      assert(err < 5e-10 + 2e-10 * math.abs(math.log(x)),
        s"x=$x err=$err")
    }
    assert(PortableLnSpec.replay(1.0) === 0.0)
  }

  test("generated DuckDB ladder has the declared depth and constants") {
    val y = PortableLn.yLadderSql("r")
    assert("sqrt\\(".r.findAllIn(y).size === 20)
    assert(y.contains("1048576.0"))
    assert(PortableLn.correctionSql("y").contains("2097152.0"))
  }
}

object PortableLnSpec {
  /** JVM replay of [[PortableLn.portableLn]]: the same 22 ops through
    * `Math.sqrt`.
    */
  def replay(x: Double): Double = {
    var v = x
    var i = 0
    while (i < 20) { v = math.sqrt(v); i += 1 }
    val y = (v - 1.0) * 1048576.0
    y - y * y / 2097152.0
  }
}
