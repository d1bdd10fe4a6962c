"""Scalar/array kernels as Catalyst Column expressions (SURVEY §2.H).

Everything here is pure expression composition over
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen eligible, no
Python on the hot path. Each kernel documents the reference behavior it
reproduces (file:line) including the None/dirty-data branches.
"""
