"""The query registry, split by family (round 7).

Every query is registered by ``_base._register`` — the one
registration path, which rejects a duplicate name. Import ORDER below
is load-bearing: QUERIES is populated by module import side effects
and the correctness rotation in ``__spark_entry__.queries()`` walks it
in insertion order — append new parts at the end, never reorder.
"""

from . import part1_retail_flagship  # noqa: F401,E402
from . import part2_profiling_relational  # noqa: F401,E402
from . import part3_tpch_behavior  # noqa: F401,E402
from . import part4_corpus_graph  # noqa: F401,E402
from . import part5_sketches_histograms  # noqa: F401,E402
from . import part6_maps_outliers  # noqa: F401,E402
from . import part7_sql_surface  # noqa: F401,E402
from . import part8_seasonality_streaks  # noqa: F401,E402
from . import part9_concentration_kernels  # noqa: F401,E402
from . import part10_curation_retrieval  # noqa: F401,E402
from . import part11_inequality_survival_drift  # noqa: F401,E402
