from . import (  # noqa: F401
    dedup,
    export,
    graphs,
    network,
    pois,
    similarity,
    stats,
    tags,
    text,
    topology,
)
