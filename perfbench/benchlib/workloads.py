"""The benchmark's workloads: which graft entry points each pass calls, and
which generated tables count as its input (rows_per_s divides their row
count by the pass wall)."""

WORKLOADS = {
    # Pipeline.run writing the user, zone and recommendation marts through
    # Sink, three marts on three threads: the paper's own workload and the
    # only one that writes. Task-time bound.
    "marts": {
        "ops": [],
        "tables": ["events", "nation"],
    },
    # Read-only iterative operators whose many small jobs and eager
    # per-round actions put the driver on the critical path: the Jaccard
    # pair generator plus connected components (q54), and Similarity's
    # k-means fit (q84, stored) and assignment, and IVF search (q26).
    "iterative": {
        "ops": ["q54_dup_clusters", "q26_knn_ivf", "q84_kmeans_embed"],
        "tables": ["documents", "embeddings"],
    },
}


def short(op):
    """'q54_dup_clusters' -> 'q54', the key per-query metrics use."""
    return op.split("_", 1)[0]
