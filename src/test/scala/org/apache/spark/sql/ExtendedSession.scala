package org.apache.spark.sql

/** A new session on `spark`'s context and shared state, built as a session
  * started with `spark.sql.extensions` set to `ext` is: its parser,
  * analyzer, optimizer and planner carry `ext`'s injections. The session
  * constructor that takes extensions is private, so it is called by
  * reflection; a builder would have to clear the active session first. */
object ExtendedSession {
  def apply(spark: SparkSession, ext: SparkSessionExtensions => Unit): SparkSession = {
    val extensions = new SparkSessionExtensions
    ext(extensions)
    val parent = spark.asInstanceOf[classic.SparkSession]
    // (context, shared state, parent session state, extensions, initial
    // options, parent job tags)
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.newInstance(parent.sparkContext, Some(parent.sharedState), None, extensions,
      Map.empty[String, String], Map.empty[String, String]).asInstanceOf[SparkSession]
  }
}
