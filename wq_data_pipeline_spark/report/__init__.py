"""S7 figure sinks: the reference emits a per-variable PNG set
(scripts/ufz_water_qc_pipeline.py:706-728) and the sentemqc combined
plot (scripts/sentemqc.py:117-142). This package renders the same
figure set from the engine's aggregate DataFrames.

Scale design: each figure input is one grouped collect over ALL
series (a time-bucketed aggregate bounded by the pixel width, per-series
histograms, the newest events, the seasonal table), so the job count
does not grow with the number of series and the bytes crossing the
driver boundary are O(pixels) per series, never O(rows). Figures are
then drawn driver-side from those collected dicts.

Backend: matplotlib when importable (PNG, like the reference);
otherwise a dependency-free deterministic SVG writer (this container
has no matplotlib). Same figure content either way.
"""

from wq_data_pipeline_spark.report.figures import (  # noqa: F401
    render_qc_figures,
    render_sentemqc_figure,
)
