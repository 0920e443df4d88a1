"""rws_data_ingester_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
``arianium/rws_data_ingester`` (a cron-scheduled fetch→extract→enrich→publish
ETL pipeline, see SURVEY.md), generalized into a full operator surface:

- batch relational operators (scan/filter/join/agg/window/sort/set-ops),
- scalar function layer (string/math/date/conditional/array/map/JSON/hash),
- Structured-Streaming operators mirroring the reference's micro-batch
  refresh model (SURVEY.md §2.9),
- the reference-shaped ingest/enrich/report path (keyed HTTP fan-out,
  HTML extraction, prompt assembly, LLM enrichment with offline stub,
  single-file report sink — reference: src/rotterdam_swimming_advice.py),
- LLM-data-pipeline extensions: dedup (exact/MinHash/SimHash), similarity
  search over embeddings, text analysis, multimodal column plumbing.

Everything is declarative DataFrame/SQL so Catalyst owns the physical plan;
Python UDFs appear only where built-ins can't express the semantics, and
then always as Arrow-vectorized pandas UDFs / mapInPandas.
"""

__version__ = "0.1.0"

# Import the plan registry FIRST: plans/__init__ imports every query module
# in a deliberate order (the driver's correctness gate checks the first 50
# registered queries). Importing an operator module before plans would leave
# it partially initialized in sys.modules when plans re-imports it, silently
# deferring its registrations to the end of the list.
import rws_data_ingester_spark.plans  # noqa: F401,E402

from rws_data_ingester_spark.session import get_spark  # noqa: F401
from rws_data_ingester_spark.catalog import Catalog, load_table  # noqa: F401

# Reusable operator building blocks (the library surface; the declared
# query surface lives in rws_data_ingester_spark.plans.REGISTRY).
from rws_data_ingester_spark.operators.scale import (  # noqa: F401
    bucketize,
    observed,
    salted_join,
)
from rws_data_ingester_spark.operators.dedup import (  # noqa: F401
    lsh_candidate_pairs,
    minhash_signature,
    shingles,
    simhash64,
)
from rws_data_ingester_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    hyperplane_signature,
    ivf_index,
)
from rws_data_ingester_spark.operators.multimodal import (  # noqa: F401
    attach_payload,
    extract_features,
    frame_sample,
)

__all__ = [
    "get_spark",
    "Catalog",
    "load_table",
    "bucketize",
    "observed",
    "salted_join",
    "lsh_candidate_pairs",
    "minhash_signature",
    "shingles",
    "simhash64",
    "cosine_topk",
    "hyperplane_signature",
    "ivf_index",
    "attach_payload",
    "extract_features",
    "frame_sample",
]
