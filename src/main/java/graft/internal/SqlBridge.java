package graft.internal;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.expressions.Expression;

/**
 * Minimal bridge to Spark's Scala-package-private helpers.
 *
 * <p>Scala's {@code private[sql]} is erased at the bytecode level, so javac can
 * link against these members directly: wrapping a Catalyst {@link Expression}
 * into a public {@link Column} (and back), plan/Dataset conversion, the
 * session's SQL configuration and the nullable form of a schema (what a
 * job-free parquet read needs to match a file-source scan), and the
 * session's {@code FunctionRegistry} so graft's native expressions are
 * callable from SQL text on any session (including sessions built without
 * our {@code SparkSessionExtensions}).
 */
public final class SqlBridge {
    private SqlBridge() {}

    /** Wrap a Catalyst expression into a user-facing Column. */
    public static Column column(Expression e) {
        return org.apache.spark.sql.classic.ExpressionUtils$.MODULE$.column(e);
    }

    /** Extract the Catalyst expression backing a Column. */
    public static Expression expression(Column c) {
        return org.apache.spark.sql.classic.ExpressionUtils$.MODULE$.expression(c);
    }

    /** Wrap a logical plan into a DataFrame on the given session. */
    public static org.apache.spark.sql.Dataset<org.apache.spark.sql.Row> ofRows(
            SparkSession session,
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan plan) {
        return org.apache.spark.sql.classic.Dataset$.MODULE$.ofRows(
                (org.apache.spark.sql.classic.SparkSession) session, plan);
    }

    /** The analyzed logical plan backing a DataFrame. */
    public static org.apache.spark.sql.catalyst.plans.logical.LogicalPlan logicalPlan(
            org.apache.spark.sql.Dataset<org.apache.spark.sql.Row> df) {
        return ((org.apache.spark.sql.classic.Dataset<org.apache.spark.sql.Row>) df).logicalPlan();
    }

    /** The schema with every field nullable, as file-source reads report it. */
    public static org.apache.spark.sql.types.StructType asNullable(
            org.apache.spark.sql.types.StructType schema) {
        return schema.asNullable();
    }

    /** The session's SQL configuration. */
    public static org.apache.spark.sql.internal.SQLConf sqlConf(SparkSession session) {
        return ((org.apache.spark.sql.classic.SparkSession) session).sessionState().conf();
    }

    /** Register a temp function builder on the session's FunctionRegistry. */
    public static void registerFunction(
            SparkSession session,
            String name,
            scala.Function1<scala.collection.immutable.Seq<Expression>, Expression> builder) {
        org.apache.spark.sql.classic.SparkSession classic =
                (org.apache.spark.sql.classic.SparkSession) session;
        classic.sessionState().functionRegistry()
                .createOrReplaceTempFunction(name, builder, "built-in");
    }
}
