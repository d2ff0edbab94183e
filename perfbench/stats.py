"""Median and quartile math shared by the benchmark and its self-tests."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them (exclusive method); a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3

