"""Physics formula library (SURVEY §2.8 F2-F5) as native Column expressions.

Reference implementations are numpy functions at
/root/reference/gridmet_etl/helper.py:175-227 plus the humidity derivation at
etl.py:740. All are arithmetic + exp → pure pyspark.sql.functions
compositions (Catalyst-optimizable, zero serialization, whole-stage
codegen'd). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Barometric constants (helper.py:179-187)
P0_HPA = 1013.25
LAPSE_G = 9.80665
GAS_CONSTANT_DRY = 287.05
KELVIN = 273.15


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def mean_humidity(rhmin: Column | str, rhmax: Column | str, bug_compat: bool = False) -> Column:
    """F2 — gridMET daily mean relative humidity.

    Intended semantics per the variable attrs ("Daily mean relative
    humidity", etl.py:741-747): (rhmin + rhmax) / 2. The reference's literal
    code is `rhmin + rhmax / 2.0` (etl.py:740) — an operator-precedence bug.
    ``bug_compat=True`` reproduces the literal behavior for golden parity.
    """
    lo, hi = _c(rhmin), _c(rhmax)
    if bug_compat:
        return lo + hi / F.lit(2.0)
    return (lo + hi) / F.lit(2.0)


def pressure_at_elevation(elev_m: Column | str, t_avg_k: Column | str) -> Column:
    """F3 — barometric pressure (hPa) at elevation:
    P0 * exp(-g*elev / (R*T_avg)). Reference: helper.py:175-196."""
    return F.lit(P0_HPA) * F.exp(
        F.lit(-LAPSE_G) * _c(elev_m) / (F.lit(GAS_CONSTANT_DRY) * _c(t_avg_k))
    )


def saturation_vapor_pressure(t_k: Column | str) -> Column:
    """F4 — Magnus saturation vapor pressure (hPa) from temperature in K:
    6.1094 * exp(17.625*Tc / (Tc + 243.04)), Tc = T - 273.15.
    Reference: helper.py:198-202."""
    tc = _c(t_k) - F.lit(KELVIN)
    return F.lit(6.1094) * F.exp(F.lit(17.625) * tc / (tc + F.lit(243.04)))


def relative_humidity(
    tmax_k: Column | str,
    tmin_k: Column | str,
    sph: Column | str,
    elev_m: Column | str,
) -> Column:
    """F5 — CFSv2 relative humidity (%) from Kelvin temps + specific
    humidity (kg/kg) + elevation (m). Composition of F3+F4 exactly as
    helper.py:204-227: T_avg=(tmax+tmin)/2; P = pressure(elev, T_avg);
    e = sph*P/0.622; rh = e/e_s(T_avg)*100."""
    t_avg = (_c(tmax_k) + _c(tmin_k)) / F.lit(2.0)
    p = pressure_at_elevation(elev_m, t_avg)
    e = _c(sph) * p / F.lit(0.622)
    return e / saturation_vapor_pressure(t_avg) * F.lit(100.0)
