"""logboost_spark — a PySpark-native parse → enrich → route → aggregate engine.

A brand-new, Spark-first analytics engine with the query and data-processing
capabilities of joeavanzato/LogBoost (reference studied at /root/reference):
multi-format log parsing (CSV/JSON/CEF/CLF/syslog/IIS-W3C/KV/raw), IP
extraction + geo/ASN/threat-intel/DNS/TLD/WHOIS/Shodan-style enrichment as
broadcast joins against deterministic lookup tables, routed fan-out sinks,
and per-sink aggregates — over Iceberg/parquet-backed multi-turn transcript
tables at cluster scale.

Design principles (see SURVEY.md):
  * DataFrame/SQL first; Catalyst plans everything. No RDDs.
  * All per-row lookups in the reference become broadcast hash joins
    (CIDR geo data becomes a prefix-bucketed broadcast range join).
  * No Python in the pipeline plan: native pyspark.sql.functions, and a
    Java UDF compiled from the repo's source (jvm/JsonFlatten.java) where
    column exprs cannot express the semantics (the JSON flatten).
  * Skew (heavy-tailed conversations / hot route categories) handled with
    salted repartitioning + AQE.
  * Resumable: per-partition lineage manifest; committed work is skipped.
"""

__version__ = "0.1.0"
