"""Per-layer metrics of a traced run: name -> unit.

Layers are named after graft's modules, plus the Spark layers beneath
them. A metric of a layer that a workload does not run reads 0.
"""
PER_LAYER = {
    # graft.queries: gate builders and Tables (gate-sweep)
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.executions": "count",
    # Spark SQL planning and codegen
    "spark.plan_s": "s",
    "spark.codegen_s": "s",
    "spark.codegen_classes": "count",
    # Spark scheduler and executors
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "count",
    "spark.job_wall_s": "s",
    "spark.driver_only_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    # Spark I/O and shuffle
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    # graft.sources (monthly-etl)
    "sources.scan_s": "s",
    "sources.orders": "count",
    # graft.operators.SalesEtl (monthly-etl)
    "SalesEtl.transform_s": "s",
    "SalesEtl.rows": "count",
    # graft.operators.SalesSink (monthly-etl)
    "SalesSink.write_s": "s",
    "SalesSink.files": "count",
    "SalesSink.bytes_per_row": "B",
    "SalesSink.backfill_s": "s",
    "SalesSink.table_mb": "MB",
    # graft.functions.TextFunctions (curate-10x)
    "TextFunctions.annotate_s": "s",
    # graft.operators.Dedup (curate-10x)
    "Dedup.lsh_pairs_s": "s",
    "Dedup.pairs": "count",
    # graft.operators.ConnectedComponents (curate-10x)
    "ConnectedComponents.cc_s": "s",
    "ConnectedComponents.jobs": "count",
    # graft.CorpusCurate (curate-10x)
    "CorpusCurate.write_s": "s",
    # the traced run's own run_s; minus the untraced run_s, the tracing overhead
    "trace.run_s": "s",
}
