"""The query catalog: importing this module registers every entry.

``QUERIES`` and ``ORACLES`` live in ``registry``; each domain module
below registers its entries into them on import, in the order listed,
which is the registry order. Each domain module also imports on its
own.

- ``queries_relational`` — scans, joins, set ops, scalar packs, SQL and
  Python-API surfaces, layout, formats, CDC and data-quality checks
- ``queries_tpch`` — the TPC-H planner shapes
- ``queries_census`` — the paper's pipeline: rename/align/clean and the
  census ETL end to end
- ``queries_analytics`` — window functions and business analytics
- ``queries_sketches`` — mergeable sketches and their audits
- ``queries_vectors`` — embeddings, ANN, similarity search, retrieval
  scoring and evaluation
- ``queries_dedup`` — exact, fuzzy and near-duplicate detection
- ``queries_corpus`` — training-data curation and multimodal features
- ``queries_stats`` — estimators and statistical tests
- ``queries_events`` — event-time series, sessions, intervals
- ``queries_streaming`` — entries run by Structured Streaming
- ``queries_text`` — tokenization, language models, text features
- ``queries_graph`` — graph algorithms over the near-dup pair graph
"""

from clean_census_acs_data_spark.registry import ORACLES, QUERIES  # noqa: F401
from clean_census_acs_data_spark import queries_relational  # noqa: F401
from clean_census_acs_data_spark import queries_tpch  # noqa: F401
from clean_census_acs_data_spark import queries_census  # noqa: F401
from clean_census_acs_data_spark import queries_analytics  # noqa: F401
from clean_census_acs_data_spark import queries_sketches  # noqa: F401
from clean_census_acs_data_spark import queries_vectors  # noqa: F401
from clean_census_acs_data_spark import queries_dedup  # noqa: F401
from clean_census_acs_data_spark import queries_corpus  # noqa: F401
from clean_census_acs_data_spark import queries_stats  # noqa: F401
from clean_census_acs_data_spark import queries_events  # noqa: F401
from clean_census_acs_data_spark import queries_streaming  # noqa: F401
from clean_census_acs_data_spark import queries_text  # noqa: F401
from clean_census_acs_data_spark import queries_graph  # noqa: F401
