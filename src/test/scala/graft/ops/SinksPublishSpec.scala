package graft.ops

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, SQLException, Statement}

import org.scalatest.funsuite.AnyFunSuite

/** The atomic publish step of [[Sinks.upsertSnapshotSwapJdbc]], as a
  * pure function of a JDBC connection: no Spark, no database.
  */
class SinksPublishSpec extends AnyFunSuite {

  // a JDBC object whose named methods throw and whose others answer with
  // the return type's default (null, false, 0)
  private def jdbcProxy[T](cls: Class[T], errors: Map[String, Throwable], calls: StringBuilder)(
      answer: PartialFunction[String, AnyRef] = PartialFunction.empty): T =
    Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array[Class[_]](cls),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          calls ++= m.getName += ' '
          errors.get(m.getName).foreach(e => throw e)
          answer.applyOrElse(m.getName, (_: String) => m.getReturnType match {
            case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
            case java.lang.Integer.TYPE => Integer.valueOf(0)
            case _                      => null
          })
        }
      }).asInstanceOf[T]

  test("executeAtomically: a failed rollback is suppressed on the publish failure") {
    val publish = new SQLException("DROP failed")
    val rollback = new SQLException("rollback failed")
    val calls = new StringBuilder
    val st = jdbcProxy(classOf[Statement], Map("executeUpdate" -> publish), calls)()
    val conn = jdbcProxy(classOf[Connection], Map("rollback" -> rollback), calls) {
      case "createStatement" => st
    }
    val thrown = intercept[SQLException](
      Sinks.executeAtomically(conn, Seq("DROP TABLE t", "RENAME TABLE s TO t")))
    assert(thrown eq publish)
    assert(thrown.getSuppressed.toSeq === Seq(rollback))
    // the first statement's failure stops the publish: no second
    // statement, no commit, and the rollback was attempted
    assert(calls.toString.trim ===
      "setAutoCommit createStatement executeUpdate close rollback")
  }

  test("executeAtomically: statements run in order, then commit") {
    val calls = new StringBuilder
    val st = jdbcProxy(classOf[Statement], Map.empty, calls)()
    val conn = jdbcProxy(classOf[Connection], Map.empty, calls) {
      case "createStatement" => st
    }
    Sinks.executeAtomically(conn, Seq("DROP TABLE t", "RENAME TABLE s TO t"))
    assert(calls.toString.trim ===
      "setAutoCommit createStatement executeUpdate executeUpdate close commit")
  }
}
