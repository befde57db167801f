"""The kcidb_spark benchmark: seeded closed-loop workloads, measured end
to end and per layer.  See README.md in this directory."""
