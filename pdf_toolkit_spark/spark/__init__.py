"""Distributed execution layer: SparkSession factory, schemas, and the
extraction job topology (pandas-free mapInArrow + relational strip +
resume)."""
