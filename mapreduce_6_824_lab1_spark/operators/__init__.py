"""Operator library. Importing this package registers every query + oracle."""

import mapreduce_6_824_lab1_spark.operators.text  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.mapreduce  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.relational  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.temporal  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.dedup  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.similarity  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.text_analysis  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.multimodal  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.sql_queries  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.storage  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.udaf  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.kmeans  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.graph  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.analytics  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.pipeline  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.curation  # noqa: F401
import mapreduce_6_824_lab1_spark.operators.embeddings  # noqa: F401
import mapreduce_6_824_lab1_spark.sources  # noqa: F401
