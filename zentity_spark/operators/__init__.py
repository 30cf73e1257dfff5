from zentity_spark.operators.cluster import (
    bounded_label_propagation,
    connected_components_by_hash,
)

__all__ = ["connected_components_by_hash", "bounded_label_propagation"]
