from multithreaded_map_reduce_library_spark.functions.hashing import (  # noqa: F401
    djb2,
    djb2_expr,
    md5_salted,
)
from multithreaded_map_reduce_library_spark.functions.text import (  # noqa: F401
    char_shingles,
    tokens,
)
from multithreaded_map_reduce_library_spark.functions.vectors import (  # noqa: F401
    cosine,
    dot,
    l2_norm,
)
