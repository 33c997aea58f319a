package graft

import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.GraftExtensions` must make every custom
  * function available to pure-SQL sessions. */
class ExtensionsSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  override protected def sparkConf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  test("all custom functions resolve from SQL") {
    val r = spark.sql(
      """SELECT
        |  truncate_utf8('héllo wörld', 7) AS t,
        |  array_join(mask_to_names(unhex('0005'), array('a','b','c','d')), ',') AS m,
        |  hex(sqlserver_uuid_sort_key('00112233-4455-6677-8899-aabbccddeeff')) AS u,
        |  row_uuid('a.b', 'hello world') AS id,
        |  float_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |            array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |  size(minhash_signature('the quick brown fox jumps over it')) AS k
        |""".stripMargin).head()
    assert(r.getAs[String]("t") == "héllo ") // 7 bytes: é is 2; next char ö would overflow
    assert(r.getAs[String]("m") == "a,c")
    assert(r.getAs[String]("u") == "AABBCCDDEEFF88997766554433221100")
    assert(r.getAs[String]("id") == "6d90d9be-6bed-3dfe-9a5c-b84303449564")
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("k") == 16)
  }
}
