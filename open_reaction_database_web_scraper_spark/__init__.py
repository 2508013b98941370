"""PySpark-native analytics engine with the query/data-processing
capabilities of the Open-Reaction-Database-Web-Scraper reference
(semi-structured nested-JSON ingestion, normalize/decode, dedup,
group-rollup, re-nest, sinks) plus the relational / streaming /
LLM-data-pipeline operator surface from SURVEY.md §2.

Architecture: thin, idiomatic DataFrame/SQL library — Catalyst does
the planning; no custom execution machinery. Every public query is
registered in :mod:`.registry` and exposed through
``__spark_entry__.py`` for the driver's differential-oracle gate.
"""

# first: every worker that unpickles this package's code stops
# re-reading pyspark.zip on each call (see zipcache.py)
from . import zipcache  # noqa: F401  isort: skip
from .catalog import load, load_all, register_views  # noqa: F401
from .plans.crawl_plan import (  # noqa: F401
    CrawlPlan,
    apply_plan,
    parse_config,
)
from .registry import REGISTRY, load_all_operators, register  # noqa: F401
from .session import get_session  # noqa: F401
from .sources.ord import (  # noqa: F401
    components_flat,
    dataset_rollup,
    format_reactions,
    outcomes_flat,
    read_ord_documents,
    renest_documents,
)

__version__ = "0.1.0"

__all__ = [
    "REGISTRY", "register", "load_all_operators", "get_session",
    "load", "load_all", "register_views",
    "CrawlPlan", "parse_config", "apply_plan",
    "read_ord_documents", "format_reactions", "components_flat",
    "outcomes_flat", "dataset_rollup", "renest_documents",
]
