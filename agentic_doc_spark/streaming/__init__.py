"""Structured Streaming front-end for the extraction pipeline."""


def _start(writer, available_now: bool):
    """Start a stream writer. ``available_now`` drains the backlog with
    an availableNow trigger and returns the finished query; otherwise
    the query keeps running."""
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
