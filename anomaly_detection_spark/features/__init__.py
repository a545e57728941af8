from .pipeline import (  # noqa: F401
    feature_matrix,
    impute_fill,
    impute_linear,
    nearest_fill,
    shingles,
)
from .rcf import (  # noqa: F401
    RCFStream,
    StreamingRCF,
    rcf_scorer,
    rcf_scorer_joint,
    rcf_stream_factory,
)
from .scoring import (  # noqa: F401
    JointModel,
    ScalarModel,
    score_entities,
    seasonal_zscore_scorer,
    window_z,
    zscore_scorer,
)
