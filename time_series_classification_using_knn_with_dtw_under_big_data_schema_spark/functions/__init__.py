from .distance import (  # noqa: F401
    euclidean,
    sq_euclidean,
    manhattan,
    chebyshev,
    dot,
    cosine_similarity,
    cosine_distance,
    sbd,
    sbd_batch,
    dtw_udf,
    make_dtw_udf,
    DISTANCES,
)
from .dtw_kernel import dtw_batch, dtw_pair, fastdtw_batch, fastdtw_pair  # noqa: F401
from .edit_distance import (  # noqa: F401
    edr_batch,
    edr_dist,
    erp_batch,
    erp_dist,
    lcss_batch,
    lcss_dist,
    make_erp_udf,
    make_msm_udf,
    make_twed_udf,
    msm_batch,
    msm_dist,
    twed_batch,
    twed_dist,
)
from .arrays import paa, sax_word, series_features, series_to_columns, znorm  # noqa: F401
