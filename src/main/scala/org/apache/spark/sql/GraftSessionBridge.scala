package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.internal.SQLConf

/** Bridge to Spark 4's private[sql] session cloning and plan rebinding:
  * [[interpreted]] re-roots a DataFrame's analyzed plan in a clone of
  * its own session that plans without whole-stage code generation and
  * builds projections, predicates and orderings with the interpreted
  * factories (`spark.sql.codegen.factoryMode = NO_CODEGEN`). Nothing
  * the plan runs goes through Janino, so it neither compiles nor
  * evicts other plans' classes from Spark's fixed-size codegen cache.
  *
  * The clone is made once per source session and kept while the
  * source's SQL conf stays the same; a conf change re-clones, so the
  * clone never plans under stale settings. The source session is never
  * modified. At most [[MaxSources]] sources keep a clone (least
  * recently used first out): a clone references its source's state, so
  * an unbounded map would keep every stopped stream's session alive. */
object GraftSessionBridge {
  private val MaxSources = 4

  private final case class Clone(sourceConf: Map[String, String],
      session: ClassicSession)

  private val clones =
    new java.util.LinkedHashMap[ClassicSession, Clone](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[ClassicSession, Clone]): Boolean =
        size > MaxSources
    }

  /** `df`'s plan bound to the interpreted clone of its session. Cached
    * data is shared: the clone reads the same cache manager. */
  def interpreted(df: DataFrame): DataFrame =
    rebind(df, interpretedSession(df.sparkSession))

  /** The interpreted clone of `source`. */
  def interpretedSession(source: SparkSession): SparkSession =
    source match { case s: ClassicSession => interpretedClone(s) }

  /** `df`'s analyzed plan bound to `session` (`df` itself when it is
    * already bound there); `session` plans and runs it from then on. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    (df, session) match {
      case (ds, s) if ds.sparkSession eq s => ds
      case (ds: ClassicDataset[Row @unchecked], s: ClassicSession) =>
        ClassicDataset.ofRows(s, ds.logicalPlan)
    }

  private def interpretedClone(source: ClassicSession): ClassicSession =
    clones.synchronized {
      val conf = source.sessionState.conf.getAllConfs
      Option(clones.get(source)).filter(_.sourceConf == conf)
        .getOrElse {
          val s = source.cloneSession()
          s.sessionState.conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED,
            false)
          s.sessionState.conf.setConf(SQLConf.CODEGEN_FACTORY_MODE,
            CodegenObjectFactoryMode.NO_CODEGEN)
          val c = Clone(conf, s)
          clones.put(source, c)
          c
        }.session
    }
}
