"""Benchmark of record for the federated_gcn_spark engine (see README.md)."""
