"""Facade classes mirroring the reference's user-facing API, as lazy
builders over DataFrames (SURVEY §7 design stance: every reference class
becomes a thin facade over the operator modules; every method returns
lazily — actions happen only when the caller materializes).

Reference classes → facades:
- ``OnIce`` (gpstools.py:204-280)        → :class:`OnIce`
- ``BaseStn`` (gpstools.py:82-148)       → :class:`BaseStn`
- ``DiurnalExtrema`` (diurnal.py:181-247)→ :class:`DiurnalExtrema`
- ``WeatherStation`` (melt_model.py:273-333) → :class:`WeatherStation`
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .melt import apply_shadow_correction, calc_daily_albedo, calc_melt
from .operators import extrema as _ex
from .operators.detrend import (
    flow_direction_angle, linear_detrend, reproject_to_flow_direction,
)
from .operators.intervals import clip_to_window, drop_timestamps
from .operators.rolling import c_rolling
from .operators.velocity import calc_velocity

__all__ = ["OnIce", "BaseStn", "DiurnalExtrema", "WeatherStation"]

# gpstools.py:73-79 component-letter → column map
_DIRECTIONS = {"n": "dnorth", "e": "deast", "u": "dheight",
               "x": "xflow", "t": "xtran"}


class BaseStn:
    """Scalar base-station geodesy (gpstools.py:82-148)."""

    def __init__(self, stn_id: str, lon: float, lat: float,
                 ellipsoidal_height: float, geoid_height: float = 0.0):
        self.stn_ID = stn_id
        # longitude normalization (gpstools.py:130): (360−L)·−1 if L>180
        self.lon = -(360.0 - lon) if lon > 180 else lon
        self.lat = lat
        # elevation = ellipsoidal − geoid separation (gpstools.py:147-148)
        self.elevation = ellipsoidal_height - geoid_height


class OnIce:
    """GPS on-ice station pipeline (gpstools.py:204-280 + methods).

    Holds a lazy positions DataFrame (ts, dnorth, deast, dheight, *_err)
    plus scalar metadata; methods build plans, never collect (except the
    documented scalar aggregates like the flow angle)."""

    def __init__(self, df: DataFrame, stn_id: str = "UNKN", ts_col: str = "ts"):
        self.data = df
        self.stn_ID = stn_id
        self.ts_col = ts_col
        self.alpha: float | None = None

    def drop_large_errors(self, threshold: float = 0.1) -> "OnIce":
        """F1 (gpstools.py:664-670)."""
        out = self.data.where((F.col("dnorth_err") < threshold)
                              & (F.col("deast_err") < threshold))
        return self._with(out)

    def reproject_to_flow_direction(self, alpha: float | None = None,
                                    use_atan2: bool = False) -> "OnIce":
        """E1 rotation (gpstools.py:287-346): computes/caches α, adds
        xflow/xtran columns."""
        if alpha is None:
            alpha = flow_direction_angle(self.data, ts_col=self.ts_col,
                                         use_atan2=use_atan2)
        out = reproject_to_flow_direction(self.data, alpha, ts_col=self.ts_col)
        o = self._with(out)
        o.alpha = alpha
        return o

    def calc_velocity(self, component: str = "x", stat_window="3T",
                      separation_window="2H", smoothing=None,
                      window=None) -> DataFrame:
        """§2.9 kernel (gpstools.py:524-608): component letters select
        columns via the _directions map (:73-79, 847-867)."""
        cols = [_DIRECTIONS[c] for c in component.lower()]
        df = self.data
        if window is not None:
            df = clip_to_window(df, window[0], window[1], self.ts_col)
        return calc_velocity(df, cols, stat_window, separation_window,
                             smoothing=smoothing, ts_col=self.ts_col)

    def linear_detrend(self, component: str = "u", window=None) -> "OnIce":
        """gpstools.py:462-496."""
        col = _DIRECTIONS[component.lower()]
        out = linear_detrend(self.data, col, self.ts_col, window=window)
        return self._with(out)

    def z_detrend_wrt_xflow(self, window=None) -> "OnIce":
        """gpstools.py:498-518: detrend dheight against xflow."""
        out = linear_detrend(self.data, "dheight", self.ts_col,
                             window=window, x_col="xflow")
        return self._with(out)

    def smooth(self, component: str, window="6H", min_periods=None) -> "OnIce":
        """W2 smoothing pass."""
        col = _DIRECTIONS[component.lower()]
        out = c_rolling(self.data, col, window, "mean", self.ts_col,
                        min_periods=min_periods, out_col=col)
        return self._with(out)

    def drop_positions(self, timestamps: Sequence) -> "OnIce":
        """F6 (gpstools.py:431-441): immutable plans make 'drop across all
        derived series' free — downstream re-derivation is lazy."""
        return self._with(drop_timestamps(self.data, timestamps, self.ts_col))

    @staticmethod
    def filter_zero(vel: DataFrame, vel_col: str = "X_vel") -> DataFrame:
        """F2 (gpstools.py:673-674): keep rows with positive velocity
        (the reference returns the complement's index for dropping)."""
        return vel.where(F.col(vel_col) > 0)

    @staticmethod
    def normalize(vel: DataFrame, norm: float,
                  vel_col: str = "X_vel") -> DataFrame:
        """M4 (gpstools.py:798-801): scale velocity by a scalar."""
        return vel.withColumn(vel_col, F.col(vel_col) / F.lit(float(norm)))

    def which_quadrant(self) -> str:
        """A13 (gpstools.py:445-452): quadrant of motion from the signs of
        the all-positive tests on dnorth/deast. One 2-scalar aggregate."""
        r = self.data.agg(F.min("dnorth").alias("n"),
                          F.min("deast").alias("e")).first()
        n_pos, e_pos = r["n"] > 0, r["e"] > 0
        return {(True, True): "NE", (True, False): "NW",
                (False, True): "SE", (False, False): "SW"}[(n_pos, e_pos)]

    def stn_stats(self, vel: DataFrame, vel_col: str = "X_vel") -> dict:
        """A15 `print_stn_stats` (gpstools.py:780-795): scalar aggregates
        collected to the driver for report formatting."""
        r = vel.agg(F.avg(vel_col).alias("mean_vel"),
                    F.count(vel_col).alias("n_obs")).first()
        return {"stn_ID": self.stn_ID, "mean_vel": r["mean_vel"],
                "n_obs": r["n_obs"]}

    def _with(self, df: DataFrame) -> "OnIce":
        o = OnIce(df, self.stn_ID, self.ts_col)
        o.alpha = self.alpha
        return o


class DiurnalExtrema:
    """Diurnal extrema pipeline facade (diurnal.py:181-247).

    Unlike the reference (whole pipeline runs in the constructor), the
    plan is built lazily; ``.extrema`` returns the picks DataFrame."""

    def __init__(self, series: DataFrame, value_col: str = "value",
                 ts_col: str = "ts", min_first: bool = False,
                 max_next_day: bool = False, threshold: float | None = None,
                 window: tuple | None = None,
                 partition_by: Sequence[str] = ()):
        df = series
        if window is not None:
            df = clip_to_window(df, window[0], window[1], ts_col)
        ex = _ex.daily_extrema(df, value_col, ts_col, partition_by,
                               min_first, max_next_day)
        if threshold is not None:
            ex = _ex.apply_threshold(ex, threshold)
        self.series = df
        self.value_col, self.ts_col = value_col, ts_col
        self.extrema = ex

    def with_amplitude(self) -> DataFrame:
        return _ex.with_amplitude(self.extrema)

    def multi_indexed(self) -> DataFrame:
        """Struct reshape (diurnal.py:348-367)."""
        return _ex.to_multi_indexed(self.extrema)

    def change_extrema_picks(self, corrections: DataFrame) -> DataFrame:
        """F10/J4 manual-correction overlay (diurnal.py:375-451)."""
        return _ex.apply_corrections(self.extrema, corrections,
                                     series=self.series,
                                     value_col=self.value_col,
                                     ts_col=self.ts_col)


class WeatherStation:
    """Weather-station melt pipeline facade (melt_model.py:273-333)."""

    def __init__(self, df: DataFrame, ts_col: str = "ts"):
        self.data = df
        self.ts_col = ts_col

    def get_data_with(self, substring: str) -> str:
        """Fuzzy attribute binding (melt_model.py:351-357): resolve a
        column by case-insensitive substring; error if ambiguous."""
        hits = [c for c in self.data.columns if substring.lower() in c.lower()]
        if len(hits) != 1:
            raise KeyError(f"{substring!r} matches {hits} in {self.data.columns}")
        return hits[0]

    def apply_shadow_correction(self, band=(14, 17)) -> "WeatherStation":
        return WeatherStation(
            apply_shadow_correction(self.data, band=band, ts_col=self.ts_col),
            self.ts_col)

    def calc_albedo(self) -> DataFrame:
        return calc_daily_albedo(self.data, ts_col=self.ts_col)

    def calc_melt(self, threshold_temp: float = 0.0) -> DataFrame:
        return calc_melt(self.data, ts_col=self.ts_col,
                         threshold_temp=threshold_temp)
