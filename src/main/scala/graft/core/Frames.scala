package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}

/** Building a frame's columns with few Dataset operations. Every
  * `withColumn`, `drop` or `withColumnRenamed` call runs the analyzer
  * over the whole plan built so far, so a chain of n such calls pays n
  * analyses of a growing plan; on a small input (the 15-min cron
  * window) that planning outweighs the execution.
  */
object Frames {

  /** `df.withColumns(cols)` then `.drop(drop: _*)`, as ONE projection:
    * a column in `cols` replaces a same-named column in place and is
    * otherwise appended, in the order given (what `withColumn` does);
    * the columns named in `drop` leave the output. Expressions in
    * `cols` resolve against `df`, so columns that read each other's
    * results belong in separate calls. Names match exactly.
    */
  def withColumns(df: DataFrame, cols: Seq[(String, Column)],
                  drop: Seq[String] = Nil): DataFrame = {
    val byName = cols.toMap
    val output = df.queryExecution.analyzed.output
    val kept = output.filterNot(a => drop.contains(a.name)).map { a =>
      byName.get(a.name).map(_.as(a.name)).getOrElse(GraftExpressionBridge.column(a))
    }
    val added = cols.collect { case (n, c) if !output.exists(_.name == n) => c.as(n) }
    df.select(kept ++ added: _*)
  }
}
