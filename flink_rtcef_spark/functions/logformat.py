"""Observable log-line formats — the reference's output contract.

The reference's results pipeline parses SLF4J lines (python/log_parser.py
:14-23) emitted by the inference job's sinks (InferenceJob.java:231-289).
Keeping the exact formats lets that tooling consume our engine's output
unchanged.
"""

from __future__ import annotations


def detection_line(timestamp: int, current_state: int, matched: str = "") -> str:
    # WayebEngine.java:461
    return (
        f"DETECTION: TIMESTAMP={timestamp} fmDetected=true "
        f"currentState={current_state} matchEvent={matched}"
    )


def forecast_line(
    timestamp: int, key: str, probability: float, start_in: int, end_in: int, positive: bool
) -> str:
    # PredictionOutput.java:9-32 via InferenceJob.java:247-252
    tag = " (POSITIVE)" if positive else " (NEGATIVE)"
    return (
        f"FORECAST: Prediction{{ts={timestamp}, key='{key}', prob={probability}, "
        f"startIn={start_in}, endIn={end_in}}}{tag}"
    )


def _report(kind: str, timestamp: int, key: str, runtime_mcc: float, batch_mcc: float) -> str:
    # ReportOutput.toString (ReportOutput.java:40-42); parsed by
    # log_parser.py global_pattern/local_pattern regexes
    return (
        f"{kind}: Report{{ts={timestamp}, key='{key}', "
        f"runtime MCC={runtime_mcc}', batch MCC={batch_mcc}}}"
    )


def local_report_line(timestamp: int, key: str, runtime_mcc: float, batch_mcc: float) -> str:
    return _report("LOCAL_REPORT", timestamp, key, runtime_mcc, batch_mcc)


def global_report_line(timestamp: int, runtime_mcc: float, batch_mcc: float) -> str:
    return _report("GLOBAL_REPORT", timestamp, "GLOBAL", runtime_mcc, batch_mcc)
