"""The benchmark's workloads, one module each; every module documents
why the workload exists, its input sizes and its client model."""
