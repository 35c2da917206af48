from webgraph_big_spark.algorithms.pagerank import pagerank  # noqa: F401
from webgraph_big_spark.algorithms.components import (  # noqa: F401
    connected_components,
    component_sizes,
    sort_by_size,
)
from webgraph_big_spark.algorithms.labelprop import label_propagation  # noqa: F401
from webgraph_big_spark.algorithms.triangles import triangle_count  # noqa: F401
from webgraph_big_spark.algorithms.bfs import bfs_distances  # noqa: F401
from webgraph_big_spark.algorithms.stats import graph_stats, degree_histogram  # noqa: F401
from webgraph_big_spark.algorithms.hyperball import (  # noqa: F401
    hyperball,
    hyperball_centralities,
    hyperball_registers,
)
from webgraph_big_spark.algorithms.scc import (  # noqa: F401
    scc_buckets,
    strongly_connected_components,
    strongly_connected_components_fwbw,
)
