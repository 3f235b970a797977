package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Session-free `$"col"` interpolator so query definitions can live in
  * plain objects (spark.implicits._ needs a SparkSession instance; column
  * references don't), and the one shape every inventory query shares.
  */
package object ops {
  /** A named inventory query: (session, scale-factor dir) → result. */
  type Q = (SparkSession, String) => DataFrame

  implicit class ColumnInterpolator(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
