package perfbench;

import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd;

/** The QueryExecution an SQL execution-end event carries. Scala code
 * outside Spark's `sql` package cannot name the field; its bytecode
 * accessor is public. */
final class ExecutionEnd {
    private ExecutionEnd() {}

    static QueryExecution queryExecution(SparkListenerSQLExecutionEnd e) {
        return e.qe();
    }
}
