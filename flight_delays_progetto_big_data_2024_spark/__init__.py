"""flight_delays_progetto_big_data_2024_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query surface of the
reference repo ``cafssss/flight_delays_progetto_big_data_2024`` (a PySpark
flight-delay batch-analytics application), extended with the operators a
large-scale LLM-training-data pipeline needs (dedup, similarity search,
text analysis, multimodal column plumbing).

Design stance (see SURVEY.md §7):

- every public operator is a pure function ``DataFrame -> DataFrame``
  (or a composition thereof); no operator materializes unbounded data on
  the driver — global scalars are window aggregates, decode dicts are
  broadcast dimension joins, reshaping is Spark-side ``unpivot``;
- logical plans are declared with the DataFrame API and optimization is
  delegated to Catalyst/Tungsten + AQE; no hand-scheduling: building a
  query launches no job, except
  - the graph loops, which truncate the lineage their loop would
    otherwise grow;
  - pagerank's and triangle_count's bounded small-graph collect;
  - ``pca_variance_profile``'s collect of its d² moment aggregate;
- Python stays out of the hot path: built-in ``pyspark.sql.functions``
  everywhere; Arrow-batched pandas UDFs only where semantics genuinely
  require them (multimodal decode stubs).
"""

__version__ = "0.1.0"

from flight_delays_progetto_big_data_2024_spark.session import get_spark

__all__ = ["get_spark", "__version__"]
